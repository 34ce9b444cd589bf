"""Unit goldens + replay test for the merge pipeline (SURVEY.md §2.3/2.8).

The replay test mirrors the reference's production-replay assertion
(MergePlaceBotOtherTest.java:89: > 2,100 merged places on June-2021
data) at sf0.1, where the synthetic corpus has comparable scale
(~5,000 closed places under review).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from openplacereviews_db_spark.functions import text as TX
from openplacereviews_db_spark.functions.dialect import DUCKDB, SPARK
from openplacereviews_db_spark.operators import changelog as C
from openplacereviews_db_spark.operators import cluster, place_merge
from openplacereviews_db_spark.sources import places as P


# ---------------------------------------------------------------------------
# check_names truth table (same cases smoke-tested against DuckDB SQL)
# ---------------------------------------------------------------------------

CASES = [
    ("Blue Cafe", "blue cafe", True),        # collator equality
    ("Blue Cafe", "Cafe Blue", True),        # word-bag equality
    ("Blue-Cafe", "bluecafe", True),         # simple-name equality
    ("The Grand Hotel", "The Grnad Hotel", True),  # fuzzy word subset
    ("Alpha", "Omega", False),
    ("Café", "Cafe", True),                  # accent fold
    ("a b c", "a b", True),                  # subset either direction
]


def test_check_names_spark(spark):
    df = spark.createDataFrame(CASES, "a string, b string, want boolean")
    got = df.select("a", "b", "want",
                    F.expr(TX.check_names(SPARK, "a", "b")).alias("got"))
    bad = [r for r in got.collect() if bool(r["got"]) != r["want"]]
    assert not bad, bad


def test_check_names_matches_duckdb(spark, duck):
    sql = ("SELECT " + TX.check_names(DUCKDB, "a", "b")
           + " FROM (SELECT unnest($1::VARCHAR[]) a, unnest($2::VARCHAR[]) b)")
    duck_rows = duck.execute(
        sql, [[c[0] for c in CASES], [c[1] for c in CASES]]).fetchall()
    assert [bool(r[0]) for r in duck_rows] == [c[2] for c in CASES]


# ---------------------------------------------------------------------------
# greedy clustering goldens (G2)
# ---------------------------------------------------------------------------

def _feat(id_, lat, lon, status, tile="t"):
    return {"tile": tile, "id": id_, "lat": lat, "lon": lon, "status": status}


def test_greedy_groups_golden():
    # 1e-3 deg lat ≈ 111 m; 5e-4 ≈ 55 m
    rows = [
        _feat(1, 0.0, 0.0, "deleted"),
        _feat(10, 0.0005, 0.0, "created"),   # 55 m from #1 → pulled
        _feat(11, 0.0030, 0.0, "created"),   # 333 m → separate
        _feat(2, 0.0009, 0.0, "deleted"),    # 100 m from #1 → same group
        _feat(3, 0.0042, 0.0, "deleted"),    # far from #1; 133 m from #11 → pulls it
    ]
    out = cluster.greedy_group_rows(rows)
    groups: dict = {}
    for r in out:
        groups.setdefault(r["group_id"], []).append((r["seq"], r["id"], r["status"]))
    g1 = sorted(groups[1]);  g3 = sorted(groups[3])
    # invariant: deleted first, then created (OprHistoryChangesProvider:205)
    assert [i for _, i, _ in g1] == [1, 2, 10]
    assert [s for _, _, s in g1] == ["deleted", "deleted", "created"]
    assert [i for _, i, _ in g3] == [3, 11]


def test_greedy_groups_lazy_row_path_identical(monkeypatch):
    """Above _DIST_MATRIX_CAP_ELEMS the kernel computes distance ROWS
    on demand instead of full O(group²) matrices (a hot tile would
    otherwise allocate gigabytes in one worker — the r10 GEMM-kernel
    lesson).  Both paths evaluate the same haversine expression, so the
    grouping must be IDENTICAL — pinned here by forcing the lazy path
    on a randomized tile and comparing against the full-matrix path."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(120):
        rows.append(_feat(i + 1, rng.uniform(0, 0.01), rng.uniform(0, 0.01),
                          "deleted" if i % 3 == 0 else "created"))
    want = cluster.greedy_group_rows(rows)
    monkeypatch.setattr(cluster, "_DIST_MATRIX_CAP_ELEMS", 1)
    got = cluster.greedy_group_rows(rows)
    key = lambda r: (r["id"],)  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)


def test_greedy_groups_spark(spark):
    rows = [
        ("t", 1, 0.0, 0.0, "deleted"),
        ("t", 10, 0.0005, 0.0, "created"),
        ("u", 2, 50.0, 50.0, "deleted"),
        ("u", 20, 50.0004, 50.0, "created"),
        ("u", 21, 50.1, 50.0, "created"),    # far: ungrouped
    ]
    df = spark.createDataFrame(
        rows, "tile string, id long, lat double, lon double, status string")
    out = cluster.greedy_proximity_groups(df).collect()
    got = {(r["tile"], r["id"]): r["group_id"] for r in out}
    assert got[("t", 10)] == 1 and got[("u", 20)] == 2
    assert got[("u", 21)] is None


def test_g2_invariants(spark, sf_dir):
    """Per-feature invariants of the full greedy result at sf0.001 —
    the property-level counterpart of the g2_proximity_groups
    invariant oracle (which only sees per-tile counters)."""
    from openplacereviews_db_spark.plans.merge_plans import _g2_features

    feats = _g2_features(spark, sf_dir)
    out = cluster.greedy_proximity_groups(feats, dist_m=150.0).collect()
    n_in = feats.count()
    assert len(out) == n_in and len({(r["tile"], r["id"])
                                     for r in out}) == n_in
    groups: dict = {}
    for r in out:
        assert not (r["status"] == "deleted" and r["group_id"] is None)
        if r["group_id"] is not None:
            groups.setdefault((r["tile"], r["group_id"]), []).append(r)
    for (tile, gid), members in groups.items():
        members.sort(key=lambda r: r["seq"])
        assert [r["seq"] for r in members] == list(range(len(members)))
        seed = members[0]
        assert seed["id"] == gid and seed["status"] == "deleted"
        statuses = [r["status"] for r in members]
        # all 'deleted' precede all 'created' (reverse of lexicographic)
        assert statuses == sorted(statuses, reverse=True)
        for r in members:
            assert cluster._haversine_py(seed["lat"], seed["lon"],
                                         r["lat"], r["lon"]) < 150.0


def test_segment_groups(spark):
    df = spark.createDataFrame(
        [(1, False), (2, True), (3, True), (4, False), (5, True)],
        "seq int, dead boolean")
    out = {r["seq"]: r["group_id"]
           for r in cluster.segment_groups(df, "seq", "dead").collect()}
    # boundary at seq=2 (live→dead); seq=5 is the LAST element, where
    # the reference's [1, size-2] loop never opens a group
    # (MergeUtil.getMergeGroups)
    assert out == {1: 0, 2: 1, 3: 1, 4: 1, 5: 1}


# ---------------------------------------------------------------------------
# cascade tiers + ops generation
# ---------------------------------------------------------------------------

def test_match_cascade_tiers(spark):
    schema = ("id string, tile_id string, lat double, lon double, "
              "name string, wikidata string, website string, "
              "alt_names array<string>")
    active = spark.createDataFrame(
        [("a1", "AAAA11", 0.0, 0.0, "Blue Cafe", None, None, ["Blue Cafe"]),
         ("a2", "AAAA11", 0.0, 0.001, None, "Q7", None, []),
         ("a3", "AAAA11", 0.001, 0.0, "Omega", None, None, ["Old Name"]),
         ("a4", "AAAA11", 0.001, 0.001, None, None, None, [])], schema)
    closed = spark.createDataFrame(
        [("c1", "AAAA11", 0.0001, 0.0, "Cafe Blue", None, None, ["Cafe Blue"]),
         ("c2", "AAAA11", 0.0001, 0.001, None, "Q7", None, []),
         ("c3", "AAAA11", 0.0011, 0.0, "Zeta", None, None, ["Old Name"]),
         ("c4", "AAAA11", 0.0005, 0.001, None, None, None, [])], schema)
    cands = place_merge.merge_candidates(closed, active)
    got = {(r["c_id"], r["a_id"]): r["match_type"] for r in cands.collect()}
    assert got[("c1", "a1")] == place_merge.MATCH_NAME
    assert got[("c2", "a2")] == place_merge.MATCH_OTHER_TAGS
    assert got[("c3", "a3")] == place_merge.MATCH_OTHER_NAME
    assert got[("c4", "a4")] == place_merge.MATCH_EMPTY
    assert got[("c4", "a2")] == place_merge.MATCH_EMPTY
    # J5: c4's EMPTY match is ambiguous (a2 and a4 nameless nearby) → dropped
    picks = {r["c_id"]: r["a_id"]
             for r in place_merge.pick_merges(cands).collect()}
    assert "c4" not in picks
    assert picks["c1"] == "a1"


def test_merge_ops_apply_roundtrip(spark):
    picks = spark.createDataFrame(
        [("c1", "a1", 1, 10.0)], "c_id string, a_id string, match_type int, dist_m double")
    closed_docs = spark.createDataFrame(
        [("c1", json.dumps({"source": {"osm": [{"id": 7, "type": "node"}]}}))],
        "id string, doc string")
    ops = place_merge.merge_ops(picks, closed_docs)
    docs = spark.createDataFrame(
        [("a1", json.dumps({"source": {"osm": [{"id": 1, "type": "node"}]}})),
         ("c1", json.dumps({"source": {"osm": [{"id": 7, "type": "node"}]}}))],
        "obj_id string, doc string")
    out = {r["obj_id"]: json.loads(r["doc"])
           for r in C.apply_operations(docs, ops).collect()}
    assert set(out) == {"a1"}  # c1 deleted
    assert [e["id"] for e in out["a1"]["source"]["osm"]] == [1, 7]  # M5 append


# ---------------------------------------------------------------------------
# replay-scale run (reference: >2,100 merges — MergePlaceBotOtherTest.java:89)
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_replay_scale_merge_yield(spark):
    sf = "/root/testdata/sf0.1"
    closed = P.synthetic_closed_flat(spark, sf)
    active = P.synthetic_active_flat(spark, sf)
    merges, closes = place_merge.merge_and_close(
        closed, active,
        closed_docs=closed.select(
            "id", F.to_json(F.struct(F.struct(F.array().cast(
                "array<struct<id:long>>").alias("osm")).alias("source"))).alias("doc")),
        now_iso="2021-06-01T00:00:00")
    n_merge_edits = merges.where(F.col("action") == "edit").count()
    n_closes = closes.count()
    assert n_merge_edits > 2100, n_merge_edits
    assert n_closes > 100, n_closes
