"""Spark <-> DuckDB parity of every cross-engine helper in ``functions/``.

Each helper is written once as ``helper(d, *sql_args) -> str``; this
module evaluates ``helper(SPARK, ...)`` in Spark and
``helper(DUCKDB, ...)`` in DuckDB over the same generated rows and
requires identical values.  Rows come from hypothesis strategies that
aim at the known cross-engine traps: values on the ...5 rounding grid,
powers of two, NULL / empty / Unicode-whitespace strings, and
coordinates at the poles and the antimeridian.  Each helper's rows go
through one DataFrame and one collect.

The guard test at the bottom keeps a helper from growing a second,
engine-specific definition again.
"""

from __future__ import annotations

import ast
import math
import pathlib

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

from openplacereviews_db_spark.functions import geo, geometry, hashing, ids
from openplacereviews_db_spark.functions import text as TX
from openplacereviews_db_spark.functions.dialect import DUCKDB, SPARK
from openplacereviews_db_spark.operators import place_merge
from openplacereviews_db_spark.sources import places

N_ROWS = 300

# --- strategies ---------------------------------------------------------------

_WS = " \t\n\x0b\x0c\r\u00a0\u2003\u3000"
_ALPHA = ("abcdeXYZ019 -_.,!?'\"()&/#:;" + _WS
          + "\u00e0\u00e9\u00ee\u00f5\u00fc\u00e7\u00f1\u00f8\u00c9\u00c0")
#: strings made only of (Unicode) whitespace and punctuation
_BLANKS = ["", " ", "  ", "\t", "\u00a0", " \u2003 ", "\u3000", "\x0b",
           "\n\r", "...", " - ", "!"]

texts = st.one_of(st.none(), st.sampled_from(_BLANKS),
                  st.text(alphabet=_ALPHA, max_size=24))
names = st.one_of(
    texts,
    st.lists(st.sampled_from(["Blue", "blue", "Cafe", "Café", "Grnad",
                              "Grand", "Hotel", "the", "a", "b-c",
                              "(No.1)", "Zeta", "Omega"]),
             min_size=1, max_size=4).map(" ".join))


def _grid(step: float, lo: float, hi: float):
    """Multiples of ``step`` in [lo, hi] — ...5 decimals sit on the
    rounding grid and exactly on OLC / tile cell boundaries."""
    return st.integers(math.ceil(lo / step), math.floor(hi / step)).map(
        lambda k: k * step)


def _powers_of_two(hi: float):
    top = int(math.log2(hi))
    return st.builds(lambda e, s: s * 2.0 ** e, st.integers(-20, top),
                     st.sampled_from([1.0, -1.0]))


def _coord(limit: float):
    return st.one_of(
        st.none(),
        st.sampled_from([-limit, limit, 0.0, -0.0, limit - 1e-10,
                         -limit + 1e-10, limit / 2]),
        _grid(0.05, -limit, limit), _grid(0.005, -limit, limit),
        _grid(0.00005, -1.0, 1.0), _powers_of_two(limit),
        st.floats(-limit, limit, allow_nan=False))


lats, lons = _coord(90.0), _coord(180.0)
wide_lons = st.one_of(lons, st.floats(-540.0, 540.0, allow_nan=False))
ints31 = st.one_of(st.none(), st.integers(0, 2**31 - 1),
                   st.integers(0, 30).map(lambda e: 2**e),
                   st.integers(-2**31, -1))
cells = st.one_of(st.integers(0, 65535), st.integers(0, 15).map(
    lambda e: 2**e), st.integers(0, 16).map(lambda e: 2**e - 1))
id_sets = st.one_of(
    st.sets(st.integers(0, 24), max_size=12),
    st.sets(st.one_of(st.integers(-2**63, 2**63 - 1),
                      st.integers(0, 62).map(lambda e: 2**e)),
            max_size=6)).map(sorted)
signatures = st.lists(
    st.one_of(st.none(), st.integers(-2**63, 2**63 - 1),
              st.integers(0, 62).map(lambda e: 2**e)),
    min_size=16, max_size=16)
tags = st.sampled_from([None, "", " ", "Q7", "Q8", "http://a.b"])
alt_lists = st.one_of(st.none(), st.lists(names, max_size=3))


def _olc_codes(length: int):
    alpha = geo.OLC_ALPHABET + geo.OLC_ALPHABET.lower()
    return st.one_of(st.none(), st.text(alphabet=alpha, min_size=length,
                                        max_size=length))


def _urls():
    scheme = st.sampled_from(["http", "HTTP", "https", "Https", "ftp"])
    host = st.sampled_from(["ex.com", "WWW.Ex.COM", "a.b.ex.com", ""])
    port = st.sampled_from(["", ":80", ":443", ":8080", ":"])
    path = st.sampled_from(["", "/", "/p", "/p/q/", "/A/b?/"])
    query = st.lists(st.sampled_from(["utm_a=1", "id=2", "utm_b=", "x=y",
                                      "utm_c=3#", ""]),
                     max_size=4).map(lambda q: "?" + "&".join(q) if q else "")
    frag = st.sampled_from(["", "#x", "#", "#a?utm_z=1"])
    built = st.builds(lambda *p: "{}://{}{}{}{}{}".format(*p),
                      scheme, host, port, path, query, frag)
    return st.one_of(st.none(), built, texts)


def _draw(strategy, n: int = N_ROWS) -> list:
    """``n`` rows from ``strategy``, reproducibly (fixed seed, no
    example database)."""
    rows: list = []

    @settings(max_examples=n, derandomize=True, database=None,
              deadline=None, phases=[Phase.generate],
              suppress_health_check=list(HealthCheck))
    @given(strategy)
    def collect(row):
        rows.append(row)

    collect()
    return rows


# --- the two engines ----------------------------------------------------------

_ARROW = {"string": pa.string(), "double": pa.float64(), "bigint": pa.int64(),
          "int": pa.int32(), "array<string>": pa.list_(pa.string()),
          "array<bigint>": pa.list_(pa.int64())}


def _run_both(spark, duck, cols: list[tuple[str, str]], rows: list,
              exprs) -> tuple[list, list]:
    """Evaluate ``exprs(d)`` (a list of SQL expressions over ``cols``)
    on both engines; returns (spark_rows, duckdb_rows) in input order."""
    ddl = ", ".join(["idx int"] + [f"{c} {t}" for c, t in cols])
    df = spark.createDataFrame([(i, *r) for i, r in enumerate(rows)], ddl)
    got_spark = df.selectExpr(
        "idx", *[f"{e} AS v{k}" for k, e in enumerate(exprs(SPARK))]
    ).collect()
    got_spark = [tuple(r)[1:] for r in sorted(got_spark, key=lambda r: r[0])]
    table = pa.table(
        {"idx": pa.array(range(len(rows)), pa.int32()),
         **{c: pa.array([r[k] for r in rows], _ARROW[t])
            for k, (c, t) in enumerate(cols)}})
    duck.register("parity_rows", table)
    try:
        sel = ", ".join(f"{e} AS v{k}" for k, e in enumerate(exprs(DUCKDB)))
        got_duck = duck.execute(
            f"SELECT {sel} FROM parity_rows ORDER BY idx").fetchall()
    finally:
        duck.unregister("parity_rows")
    return got_spark, [tuple(r) for r in got_duck]


def _same(a, b, rel_tol: float = 0.0) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isclose(a, b, rel_tol=rel_tol)
                or (math.isnan(a) and math.isnan(b)))
    if isinstance(a, (bytes, bytearray)) and isinstance(b, (bytes, bytearray)):
        return bytes(a) == bytes(b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(
            _same(x, y, rel_tol) for x, y in zip(a, b))
    return a == b


# name -> (columns, row strategy, exprs(d) -> list of SQL expressions)
HELPERS = {
    "normalized": ([("a", "string")], st.tuples(texts),
                   lambda d: [TX.normalized(d, "a")]),
    "tokenize_words": ([("a", "string")], st.tuples(texts),
                       lambda d: [TX.tokenize_words(d, "a")]),
    "norm_tokens": ([("a", "string")], st.tuples(names),
                    lambda d: [TX.norm_tokens(d, "a")]),
    "lev_threshold": ([("a", "string"), ("b", "string")],
                      st.tuples(texts, texts),
                      lambda d: [TX.lev_threshold(d, "a", "b")]),
    "words_match": ([("a", "string"), ("b", "string")],
                    st.tuples(names, names),
                    lambda d: [TX.words_match(d, "a", "b")]),
    "words_fuzzy_subset": (
        [("a", "array<string>"), ("b", "array<string>")],
        st.tuples(st.lists(names.filter(lambda s: s is not None),
                           max_size=4),
                  st.lists(names.filter(lambda s: s is not None),
                           max_size=4)),
        lambda d: [TX.words_fuzzy_subset(d, "a", "b")]),
    "check_names": ([("a", "string"), ("b", "string")],
                    st.tuples(names, names),
                    lambda d: [TX.check_names(d, "a", "b")]),
    "tag_equal_non_empty": ([("a", "string"), ("b", "string")],
                            st.tuples(tags, tags),
                            lambda d: [TX.tag_equal_non_empty(d, "a", "b")]),
    "url_canonicalize": ([("a", "string")], st.tuples(_urls()),
                         lambda d: [TX.url_canonicalize(d, "a")]),
    "match_type": (
        [("c_name", "string"), ("a_name", "string"), ("c_wd", "string"),
         ("a_wd", "string"), ("c_web", "string"), ("a_web", "string"),
         ("c_alt", "array<string>"), ("a_alt", "array<string>")],
        st.tuples(names, names, tags, tags, tags, tags, alt_lists,
                  alt_lists),
        lambda d: [place_merge.match_type(
            d, "c_name", "a_name", "c_wd", "a_wd", "c_web", "a_web",
            "c_alt", "a_alt")]),
    "norm_text": ([("a", "string")], st.tuples(texts),
                  lambda d: [hashing.norm_text(d, "a")]),
    "fingerprint": ([("a", "string")], st.tuples(texts),
                    lambda d: [hashing.fingerprint(d, "a")]),
    "minhash": ([("a", "string"), ("seed", "int")],
                st.tuples(texts, st.integers(0, 15)),
                lambda d: [hashing.minhash_base(d, "a"),
                           hashing.minhash_perm(
                               d, "seed", hashing.minhash_base(d, "a"))]),
    "lsh_bands": ([("sig", "array<bigint>")], st.tuples(signatures),
                  lambda d: [hashing.lsh_bands(d, "sig", 8, 2),
                             hashing.lsh_bands(d, "sig", 4, 4)]),
    "jaccard": (
        [("sa", "array<bigint>"), ("sb", "array<bigint>")],
        st.tuples(id_sets, id_sets),
        lambda d: [hashing.jaccard(d, "sa", "sb")] + [
            e for t in (0.05, 0.1, 0.25, 0.35, 0.5, 0.625, 0.9, 1.0)
            for e in (hashing.jaccard_ge(d, "sa", "sb", t),
                      hashing.jaccard_prebound(
                          d, d.size("array_intersect(sa, sb)"),
                          d.size("sa"), d.size("sb"), t))]),
    "haversine_m": (
        [("lat1", "double"), ("lon1", "double"), ("lat2", "double"),
         ("lon2", "double")],
        st.tuples(lats, lons, lats, lons),
        lambda d: [geo.haversine_m(d, "lat1", "lon1", "lat2", "lon2")]),
    "olc_encode": ([("lat", "double"), ("lon", "double")],
                   st.tuples(lats, wide_lons),
                   lambda d: [geo.olc_encode(d, "lat", "lon", n)
                              for n in (2, 6, 10)]),
    "olc_decode_center": (
        [("c4", "string"), ("c6", "string")],
        st.tuples(_olc_codes(4), _olc_codes(6)),
        lambda d: [*geo.olc_decode_center(d, "c4", 4),
                   *geo.olc_decode_center(d, "c6", 6)]),
    "mercator_tile": ([("lat", "double"), ("lon", "double")],
                      st.tuples(lats, lons),
                      lambda d: [geometry.mercator_tile_x(d, "lon", 12),
                                 geometry.mercator_tile_y(d, "lat", 12),
                                 geometry.mercator_tile_x(d, "lon", 0),
                                 geometry.mercator_tile_y(d, "lat", 20)]),
    "zorder_quantize": ([("lat", "double"), ("lon", "double")],
                        st.tuples(lats, wide_lons),
                        lambda d: [geometry.zorder_quantize_lon(d, "lon"),
                                   geometry.zorder_quantize_lat(d, "lat"),
                                   geometry.zorder_quantize_lon(d, "lon", 6)]),
    "zorder_interleave": ([("qx", "bigint"), ("qy", "bigint")],
                          st.tuples(cells, cells),
                          lambda d: [geometry.zorder_interleave(d, "qx", "qy")]),
    "ids": (
        [("tile", "string"), ("n", "bigint")],
        st.tuples(st.text(alphabet=geo.OLC_ALPHABET, min_size=6,
                          max_size=6), ints31),
        lambda d: [ids.make_id(d, "tile", "n"),
                   ids.id_to_bytes(d, ids.make_id(d, "tile", "n")),
                   ids.bytes_to_id(d, ids.id_to_bytes(
                       d, ids.make_id(d, "tile", "n")))]),
    "synthetic_place": (
        [("c_custkey", "bigint")],
        st.tuples(st.one_of(st.integers(0, 10**7),
                            st.integers(0, 40).map(lambda e: 2**e))),
        lambda d: [places.synthetic_lat(d), places.synthetic_lon(d),
                   places.synthetic_tile(d), *places.synthetic_closed_lat_lon(d)]),
}


#: helpers built on sin/cos/asin: the JVM and libm may disagree in the
#: last ulp, which every consumer rounds away; all others match exactly
_ULP_TOLERANT = {"haversine_m": 1e-13}


@pytest.mark.parametrize("name", sorted(HELPERS))
def test_helper_parity(spark, duck, name):
    cols, strategy, exprs = HELPERS[name]
    rows = _draw(strategy)
    got_spark, got_duck = _run_both(spark, duck, cols, rows, exprs)
    rel_tol = _ULP_TOLERANT.get(name, 0.0)
    bad = [(row, s, d) for row, s, d in zip(rows, got_spark, got_duck)
           if not _same(s, d, rel_tol)]
    assert not bad, f"{len(bad)}/{len(rows)} rows differ, first: {bad[:3]}"


def test_strategies_reach_the_traps():
    """The generated rows really contain the trap classes above."""
    coords = [c for r in _draw(st.tuples(lats, lons)) for c in r]
    assert None in coords and 90.0 in coords and -180.0 in coords
    assert any(c is not None and c != 0 and math.log2(abs(c)).is_integer()
               for c in coords)
    strs = [s for (s,) in _draw(st.tuples(texts))]
    assert None in strs and "" in strs
    assert any(s and s.strip(_WS) == "" and s.strip(" ") != "" for s in strs)


# --- one definition per helper ------------------------------------------------

FUNCTIONS_DIR = (pathlib.Path(__file__).resolve().parent.parent
                 / "openplacereviews_db_spark" / "functions")


def test_no_engine_twins_in_functions():
    """No ``functions/`` module defines an ``*_expr`` helper, or both
    ``name`` and ``name_sql``: a helper is one dialect-taking
    definition."""
    bad = []
    for path in sorted(FUNCTIONS_DIR.glob("*.py")):
        defs = {n.name for n in ast.parse(path.read_text()).body
                if isinstance(n, ast.FunctionDef)}
        bad += [f"{path.name}:{n}" for n in sorted(defs)
                if n.endswith("_expr")
                or (n.endswith("_sql") and n[:-4] in defs)]
    assert not bad, bad
