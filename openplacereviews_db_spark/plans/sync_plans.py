"""Sync-infrastructure query plans: S4 adaptive split + S5 staged raw
zone, each with a value-exact DuckDB oracle.

``s4_adaptive_split`` runs the reference's count-probe split schedule
over a skewed synthetic point set (3/4 spread worldwide, 1/4 packed
into a ~0.05° cluster) so the split actually recurses to the depth cap
in the hot cell while the rest of the world resolves at level 1 — the
skew-handling the reference's task tree exists for.  The oracle
reproduces the nested-grid rollup and frontier walk as a fixed chain
of CTEs (the depth cap makes the recursion finite, hence SQL-able).

``s5_staged_scan`` stages a raw projection of the events table into
the write-once parquet zone (``sources.staging``) and aggregates the
STAGED copy; the oracle aggregates the source directly — equality
proves the staging roundtrip is lossless.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import ids
from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..operators import adaptive_split as AS
from ..sources import staging
from ..sources.testdata import load_table

S4_LIMIT = 1000

#: skewed synthetic points over events — lat/lon formulas mirrored
#: textually in the oracle (identical IEEE expression order)
_SPREAD_LAT = "((event_id % 3400) / 20.0 - 85.0)"
_SPREAD_LON = "((event_id % 7100) / 20.0 - 177.5)"
_CLUST_LAT = "(50.0 + (event_id % 50) / 1000.0)"
_CLUST_LON = "(7.0 + (event_id % 70) / 1000.0)"


def _prune_stage(family: str, sf_dir: str, keep: str) -> None:
    """Drop superseded write-once stages of ``family`` for this sf dir
    (names are ``{family}_{sfbase}_{mtime}_{size}[...]``): a fresh
    build proves every other fingerprint is a stale full copy leaking
    on /tmp (r12 ADVICE; see staging.prune_stale_siblings)."""
    staging.prune_stale_siblings(
        staging.stage_root(),
        f"{family}_{os.path.basename(os.path.normpath(sf_dir))}_",
        keep)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.col("event_id")
    lat = F.when(k % 4 == 0, 50.0 + (k % 50) / 1000.0) \
        .otherwise((k % 3400) / 20.0 - 85.0)
    lon = F.when(k % 4 == 0, 7.0 + (k % 70) / 1000.0) \
        .otherwise((k % 7100) / 20.0 - 177.5)
    return ev.select(lat.alias("lat"), lon.alias("lon"))


def s4_adaptive_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    leaves = AS.adaptive_split_cells(_points(spark, sf_dir),
                                     limit=S4_LIMIT)
    return leaves.select("level", "ix", "iy", "cnt")


def _s4_oracle() -> str:
    dims = AS.level_dims()
    fw, fh = dims[AS.MAX_LEVEL]
    ctes = [f"""
    pts AS (
        SELECT CASE WHEN event_id % 4 = 0 THEN {_CLUST_LAT}
                    ELSE {_SPREAD_LAT} END AS lat,
               CASE WHEN event_id % 4 = 0 THEN {_CLUST_LON}
                    ELSE {_SPREAD_LON} END AS lon
        FROM events
    ),
    lev{AS.MAX_LEVEL} AS (
        SELECT CAST(FLOOR((lon + 180.0) / {fw!r}) AS BIGINT) AS ix,
               CAST(FLOOR((lat + 90.0) / {fh!r}) AS BIGINT) AS iy,
               COUNT(*) AS cnt
        FROM pts GROUP BY 1, 2
    )"""]
    for lv in range(AS.MAX_LEVEL - 1, -1, -1):
        sx, sy = AS.split_factors(lv, *dims[lv])
        ctes.append(f"""
    lev{lv} AS (
        SELECT CAST(FLOOR(ix / {sx}.0) AS BIGINT) AS ix,
               CAST(FLOOR(iy / {sy}.0) AS BIGINT) AS iy,
               CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM lev{lv + 1} GROUP BY 1, 2
    )""")
    # frontier walk: full-sync mode — the world box always splits
    ctes.append("""
    split0 AS (SELECT ix, iy FROM lev0)""")
    leaf_selects = []
    for lv in range(1, AS.MAX_LEVEL + 1):
        sx, sy = AS.split_factors(lv - 1, *dims[lv - 1])
        ctes.append(f"""
    child{lv} AS (
        SELECT c.ix, c.iy, c.cnt
        FROM lev{lv} c JOIN split{lv - 1} p
          ON CAST(FLOOR(c.ix / {sx}.0) AS BIGINT) = p.ix
         AND CAST(FLOOR(c.iy / {sy}.0) AS BIGINT) = p.iy
    )""")
        if lv < AS.MAX_LEVEL:
            ctes.append(f"""
    split{lv} AS (SELECT ix, iy FROM child{lv} WHERE cnt >= {S4_LIMIT})""")
            leaf_selects.append(
                f"SELECT {lv} AS level, ix, iy, cnt FROM child{lv} "
                f"WHERE cnt < {S4_LIMIT}")
        else:
            leaf_selects.append(
                f"SELECT {lv} AS level, ix, iy, cnt FROM child{lv}")
    return ("WITH " + ",".join(ctes) + "\n"
            + "\nUNION ALL\n".join(leaf_selects))


def s5_staged_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the raw events projection once (write-once parquet zone),
    then aggregate the STAGED copy — event counts and payload stats per
    type.  Cache key mirrors SyncRequest.getCacheId; keyed by the sf
    dir so scale factors never cross-contaminate."""
    # cache id carries the source parquet's mtime+size so a driver
    # testdata refresh rebuilds the stage (CLAUDE.md stale-cache rule)
    cid = staging.cache_id(
        name=(f"events-{os.path.basename(os.path.normpath(sf_dir))}"
              f"-{staging.source_fingerprint(sf_dir, 'events')}"),
        date="2021-06-01", bbox=(-180.0, -90.0, 180.0, 90.0))
    cache_dir = staging.stage_root()

    def fetch() -> DataFrame:
        return load_table(spark, "events", sf_dir).select(
            "event_id", "event_type", "user_id")

    base = os.path.basename(os.path.normpath(sf_dir))
    staged = staging.stage_raw(spark, fetch, cache_dir, cid,
                               prune_prefix=f"req_events-{base}-")
    return (
        staged.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("user_id").alias("n_users"),
             F.min("event_id").alias("min_event"))
        .select("event_type", "n", "n_users", "min_event")
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "s4_adaptive_split": s4_adaptive_split,
    "s5_staged_scan": s5_staged_scan,
}

ORACLES: dict[str, str] = {
    "s4_adaptive_split": _s4_oracle(),
    "s5_staged_scan": """
        SELECT event_type, COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS n_users,
               MIN(event_id) AS min_event
        FROM events GROUP BY event_type
    """,
}


def id_bytes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-compatible id codec (OsmLocationTool.java:95-146): build
    the reference's ``<tile><hex-int>`` id per place, convert to the
    10-byte wire form (utf8 tile ++ int32-BE suffix) and back.  The
    oracle reproduces both directions; ``roundtrip_ok`` must be all
    true on BOTH engines.  The wire form is asserted as lowercase hex
    TEXT, not raw BINARY — the driver's pandas canonicalizer cannot
    hash bytearray cells (the r2 mm_feature_codes / r4 id_bytes failure
    class, now banned by the plan audit)."""
    from ..sources import places as P

    pl = P.synthetic_places(spark, sf_dir)
    base = pl.select(F.expr(_place_id(SPARK)).alias("place_id"))
    as_bytes = ids.id_to_bytes(SPARK, "place_id")
    return base.select(
        "place_id",
        F.expr(f"lower(hex({as_bytes}))").alias("id_bytes_hex"),
        F.expr(f"({ids.bytes_to_id(SPARK, as_bytes)} = place_id)")
        .alias("roundtrip_ok"),
    )


QUERIES["id_bytes_roundtrip"] = id_bytes_roundtrip


def _place_id(d: Dialect) -> str:
    """A place's byte-compatible id: its tile plus an int suffix taken
    from the first 6 hex digits of its md5 suffix."""
    key = d.hex_to_bigint("substring(suffix, 1, 6)")
    return ids.make_id(d, "tile_id", f"({key} % 2147483647)")


def _id_roundtrip_oracle() -> str:
    from ..sources import places as P

    as_bytes = ids.id_to_bytes(DUCKDB, "place_id")
    return f"""
    WITH {P.places_sql_cte()},
    base AS (SELECT {_place_id(DUCKDB)} AS place_id FROM places)
    SELECT place_id,
           lower(hex({as_bytes})) AS id_bytes_hex,
           ({ids.bytes_to_id(DUCKDB, as_bytes)} = place_id) AS roundtrip_ok
    FROM base
"""


ORACLES["id_bytes_roundtrip"] = _id_roundtrip_oracle()


def m8_placetype_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/M8 placetype bot (PlaceTypeBot.java:25-52): emit an edit op
    for every place whose stored placetype differs from its main osm
    ref's osm_value.  Staleness is synthesized deterministically
    (suffix first hex digit < '8') so the op set is oracle-able."""
    from ..operators import osm_sync
    from ..sources import places as P

    pl = P.synthetic_places(spark, sf_dir)
    stale = F.substring("suffix", 1, 1) < "8"
    aged = pl.withColumn(
        "placetype",
        F.when(stale, F.lit("stale")).otherwise(F.col("placetype")))
    ops = osm_sync.placetype_ops(aged)
    return ops.select("obj_id", "action", "change")


QUERIES["m8_placetype_ops"] = m8_placetype_ops


def _m8_oracle() -> str:
    from ..sources import places as P

    return f"""
    WITH {P.places_sql_cte()}
    SELECT tile_id || ',' || suffix AS obj_id,
           'edit' AS action,
           '{{"placetype":{{"set":"' || placetype || '"}}}}' AS change
    FROM places
    WHERE substr(suffix, 1, 1) < '8'
"""


ORACLES["m8_placetype_ops"] = _m8_oracle()


def m10_tripadvisor_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 TripAdvisor enrichment (TripAdvisorBot.java:46-116): one
    edit op per place with ``source.tripAdvisor`` sources, setting
    ``source.tripAdvisor[i].stars/reviews`` through the dotted-path
    grammar, previous values recorded in the current map.  The dead
    HTTP fetch (:70) is replaced by a deterministic rating function of
    the tripadvisor id (see ``operators/tripadvisor.py``)."""
    from ..operators.tripadvisor import tripadvisor_enrich_ops
    from ..sources import places as P

    return tripadvisor_enrich_ops(P.synthetic_places(spark, sf_dir))


QUERIES["m10_tripadvisor_ops"] = m10_tripadvisor_ops


def _m10_oracle() -> str:
    from ..sources import places as P

    def chg(i: int) -> str:
        d = f"(key * 10 + {i})"
        # 2.0e0: double literal — a bare 2.0 is DECIMAL in DuckDB and
        # decimal division would serialize as '2.500000'
        stars = f"CAST(CAST({d} % 9 + 1 AS DOUBLE) / 2.0e0 AS VARCHAR)"
        reviews = f"CAST({d} % 500 + 1 AS VARCHAR)"
        return (f"'\"source.tripAdvisor[{i}].reviews\":{{\"set\":' || "
                f"{reviews} || '}},\"source.tripAdvisor[{i}].stars\":"
                f"{{\"set\":' || {stars} || '}}'")

    def cur(i: int) -> str:
        m = f"(key + {2 * i})"
        stars = (f"CAST(CAST({m} % 5 AS DOUBLE) / 2.0e0 + 0.5e0"
                 " AS VARCHAR)")
        reviews = f"CAST({m} % 200 + 1 AS VARCHAR)"
        return (f"'\"source.tripAdvisor[{i}].reviews\":' || {reviews} || "
                f"',\"source.tripAdvisor[{i}].stars\":' || {stars}")

    def url(i: int) -> str:
        return (f"'https://www.tripadvisor.com/g' || "
                f"CAST((key + {i}) % 997 AS VARCHAR) || '-d' || "
                f"CAST(key * 10 + {i} AS VARCHAR)")

    return f"""
    WITH {P.places_sql_cte()}
    SELECT tile_id || ',' || suffix AS opr_id,
           CAST(CASE WHEN key % 2 = 0 THEN 2 ELSE 1 END AS INTEGER)
               AS n_trip,
           {url(0)} || CASE WHEN key % 2 = 0
                            THEN ',' || {url(1)} ELSE '' END AS fetch_urls,
           '{{' || {chg(0)} || CASE WHEN key % 2 = 0
                                    THEN ',' || {chg(1)} ELSE '' END
               || '}}' AS change_json,
           '{{' || COALESCE(array_to_string(list_filter([
               CASE WHEN key % 4 = 0 THEN {cur(0)} END,
               CASE WHEN key % 2 = 0 AND (key + 2) % 4 = 0
                    THEN {cur(1)} END], x -> x IS NOT NULL), ','), '')
               || '}}' AS current_json
    FROM places
    WHERE key % 9 = 0
"""


ORACLES["m10_tripadvisor_ops"] = _m10_oracle()


def _xml_escape(s: str) -> str:
    from xml.sax.saxutils import escape

    return escape(s, {'"': "&quot;"})


def _osm_stage_file(sf_dir: str) -> str:
    """Write-once deterministic .osm file derived from the customer
    table, keyed on the source parquet's mtime+size (CLAUDE.md rule:
    driver testdata drifts between rounds; existence-only keys serve
    stale rows while the oracle reads fresh parquet).  Shared by s1
    (mapInPandas parse path) and s19 (DataSource connector path)."""
    tag = (os.path.basename(os.path.normpath(sf_dir))
           + "_" + staging.source_fingerprint(sf_dir, "customer"))
    path = os.path.join(staging.stage_root(), f"osm_src_{tag}.osm")
    if not os.path.exists(path):
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(sf_dir, "customer.parquet"),
                          columns=["c_custkey", "c_name", "c_mktsegment"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm>\n')
            for k, name, seg in zip(t["c_custkey"].to_pylist(),
                                    t["c_name"].to_pylist(),
                                    t["c_mktsegment"].to_pylist()):
                lat = (k * 7919) % 16000 / 100.0 - 80.0
                lon = (k * 104729) % 36000 / 100.0 - 180.0
                f.write(f'  <node id="{k}" lat="{lat!r}" lon="{lon!r}" '
                        f'version="{1 + k % 5}" '
                        f'timestamp="2021-01-01T00:00:00Z">\n')
                f.write(f'    <tag k="name" v="{_xml_escape(name)}"/>\n')
                if k % 2 == 0:
                    f.write(f'    <tag k="amenity" '
                            f'v="{_xml_escape(seg.lower())}"/>\n')
                f.write("  </node>\n")
            f.write("</osm>\n")
        os.replace(tmp, path)
    # prune on every access (r13 review: build-branch-only pruning
    # misses siblings under the age guard at build time)
    _prune_stage("osm_src", sf_dir, os.path.basename(path))
    return path


def _s1_projection(amen: DataFrame) -> DataFrame:
    return amen.select(
        "id",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        F.col("tags")["name"].alias("name"),
        F.col("tags")["amenity"].alias("amenity"),
        F.col("version").cast("int").alias("version"),
    )


def s1_osm_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S3: write a deterministic .osm file from the customer table
    (write-once per sf), parse it with the streaming XML source, push
    the S3 tag filter down, and project the entities.  The oracle reads
    the same facts straight from the parquet — equality proves the XML
    writer→parser→filter loop is lossless."""
    from ..sources import osm_xml

    path = _osm_stage_file(sf_dir)
    ents = osm_xml.read_osm_xml(spark, path)
    return _s1_projection(osm_xml.filter_entities(ents, tag="amenity"))


QUERIES["s1_osm_xml_roundtrip"] = s1_osm_xml_roundtrip


def s19_osm_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19: the SAME parse as s1 through the registered ``osmxml``
    Python DataSource (sources/osm_datasource.py) — Spark 4's
    custom-connector API wrapping ``iter_osm_stream``, one partition
    per file.  The oracle is s1's: the connector and the mapInPandas
    path must agree byte-for-byte on every projected value."""
    from ..sources import osm_datasource, osm_xml

    path = _osm_stage_file(sf_dir)
    osm_datasource.register(spark)
    ents = spark.read.format("osmxml").option("path", path).load()
    return _s1_projection(osm_xml.filter_entities(ents, tag="amenity"))


QUERIES["s19_osm_datasource"] = s19_osm_datasource


def s2_diff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+P9 driver-grade: write a deterministic Overpass-style adiff
    file (write-once per sf), stream-parse it (OsmParser.java:85-102
    diff mode: ``<action type=…>`` with ``<old>``/``<new>`` wrappers,
    create entities directly under the action like Overpass emits),
    pivot through ``diff_pairs`` into DiffEntity rows, and project.

    Every NEW section also carries a ``<tag k="" v="junk"/>`` that the
    parser must scrub (P9, ``_row``) — ``n_new_tags`` counts the tags
    that survive, so the empty-tag scrub is value-checked by the
    oracle, which derives the same facts straight from the parquet."""
    from ..sources import osm_xml

    # mtime+size-keyed like s1 — see the CLAUDE.md stale-cache rule
    tag = (os.path.basename(os.path.normpath(sf_dir))
           + "_" + staging.source_fingerprint(sf_dir, "customer"))
    path = os.path.join(staging.stage_root(), f"osm_diff_{tag}.osm")
    if not os.path.exists(path):
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(sf_dir, "customer.parquet"),
                          columns=["c_custkey", "c_name", "c_mktsegment"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"

        def node(f, k, name, seg, version, new_section, name_suffix=""):
            lat = (k * 7919) % 16000 / 100.0 - 80.0
            lon = (k * 104729) % 36000 / 100.0 - 180.0
            f.write(f'    <node id="{k}" lat="{lat!r}" lon="{lon!r}" '
                    f'version="{version}">\n')
            f.write(f'      <tag k="name" '
                    f'v="{_xml_escape(name + name_suffix)}"/>\n')
            if k % 2 == 0:
                f.write(f'      <tag k="amenity" '
                        f'v="{_xml_escape(seg.lower())}"/>\n')
            if new_section:
                f.write('      <tag k="" v="junk"/>\n')  # P9 scrub bait
            f.write("    </node>\n")

        with open(tmp, "w", encoding="utf-8") as f:
            f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm>\n')
            for k, name, seg in zip(t["c_custkey"].to_pylist(),
                                    t["c_name"].to_pylist(),
                                    t["c_mktsegment"].to_pylist()):
                v = 1 + k % 5
                mode = k % 3
                if mode == 0:  # create: entity directly under action
                    f.write('  <action type="create">\n')
                    node(f, k, name, seg, v, new_section=True)
                    f.write('  </action>\n')
                elif mode == 1:  # modify: old + new
                    f.write('  <action type="modify">\n    <old>\n')
                    node(f, k, name, seg, v, new_section=False)
                    f.write('    </old>\n    <new>\n')
                    node(f, k, name, seg, v + 1, new_section=True,
                         name_suffix=" v2")
                    f.write('    </new>\n  </action>\n')
                else:  # delete: old only
                    f.write('  <action type="delete">\n    <old>\n')
                    node(f, k, name, seg, v, new_section=False)
                    f.write('    </old>\n  </action>\n')
            f.write("</osm>\n")
        os.replace(tmp, path)
    _prune_stage("osm_diff", sf_dir, os.path.basename(path))
    ents = osm_xml.read_osm_xml(spark, path)
    d = osm_xml.diff_pairs(ents)
    return d.select(
        "id", "action",
        F.col("old.version").cast("int").alias("old_version"),
        F.col("new.version").cast("int").alias("new_version"),
        F.col("old.tags")["name"].alias("old_name"),
        F.col("new.tags")["name"].alias("new_name"),
        F.when(F.col("new").isNotNull(), F.size("new.tags"))
        .cast("int").alias("n_new_tags"),
        F.round(F.col("new.lat"), 6).alias("new_lat"),
    )


QUERIES["s2_diff_roundtrip"] = s2_diff_roundtrip


def x22_bucketed_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X22 driver-grade: the osmid GIN-index analog
    (OpenPlaceReviewsDbBoot.java:167-178 / J1 OsmSyncBot.java:413-449)
    as a write-once BUCKETED side table — the exploded
    (osm_id, tile_id, suffix) index and a deterministic lookup batch
    are both saved bucketed by osm_id (16 buckets, /tmp-backed
    database), and the merge-hinted join runs bucket-to-bucket with
    ZERO Exchange on either side (plan asserted by
    tests/test_bucketed.py; this query is the value check).  First
    build per sf writes the tables — eager by necessity, whitelisted
    in EAGER_BUILD_OK like the other index builders."""
    from ..sources import places as P
    from ..sources.bucketed import (drop_bucketed, ensure_fresh_bucketed,
                                    write_bucketed)

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    loc = os.path.join(staging.stage_root(), "bucketdb")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS oprbuck LOCATION '{loc}'")
    idx_t, lk_t = f"oprbuck.osmid_index_{tag}", f"oprbuck.lookup_{tag}"
    if not ensure_fresh_bucketed(spark, loc, idx_t, lk_t):
        # the session catalog is in-memory: table FILES survive in /tmp
        # across sessions but registrations don't — drop any stale
        # registration AND clear the location (saveAsTable dies with
        # LOCATION_ALREADY_EXISTS on leftover files), then rebuild
        drop_bucketed(spark, loc, idx_t, lk_t)
        pl = P.synthetic_places(spark, sf_dir)
        index = (pl.select(F.explode("source.osm").alias("o"),
                           "tile_id", "suffix")
                 .select(F.col("o.id").alias("osm_id"),
                         "tile_id", "suffix"))
        lookup = (index.select("osm_id")
                  .where(F.col("osm_id") % 7 == 0).distinct())
        write_bucketed(index, idx_t, "osm_id", buckets=16)
        write_bucketed(lookup, lk_t, "osm_id", buckets=16)
    j = (spark.table(idx_t).hint("merge")
         .join(spark.table(lk_t), "osm_id"))
    return j.select("osm_id", "tile_id", "suffix")


QUERIES["x22_bucketed_lookup"] = x22_bucketed_lookup


def _x22_oracle() -> str:
    from ..sources import places as P

    return f"""
    WITH {P.places_sql_cte()},
    refs AS (
        SELECT key AS osm_id, tile_id, suffix FROM places
        UNION ALL
        SELECT key + 5000000, tile_id, suffix FROM places
        WHERE key % 13 = 0 OR key % 7 = 0
    )
    SELECT osm_id, tile_id, suffix FROM refs WHERE osm_id % 7 = 0
"""


ORACLES["x22_bucketed_lookup"] = _x22_oracle()

ORACLES["s2_diff_roundtrip"] = """
    SELECT c_custkey AS id,
           CASE c_custkey % 3 WHEN 0 THEN 'create'
                WHEN 1 THEN 'modify' ELSE 'delete' END AS action,
           CASE WHEN c_custkey % 3 = 0 THEN NULL
                ELSE CAST(1 + c_custkey % 5 AS INT) END AS old_version,
           CASE WHEN c_custkey % 3 = 2 THEN NULL
                WHEN c_custkey % 3 = 1 THEN CAST(2 + c_custkey % 5 AS INT)
                ELSE CAST(1 + c_custkey % 5 AS INT) END AS new_version,
           CASE WHEN c_custkey % 3 = 0 THEN NULL
                ELSE c_name END AS old_name,
           CASE WHEN c_custkey % 3 = 2 THEN NULL
                WHEN c_custkey % 3 = 1 THEN c_name || ' v2'
                ELSE c_name END AS new_name,
           CASE WHEN c_custkey % 3 = 2 THEN NULL
                ELSE CAST(1 + CASE WHEN c_custkey % 2 = 0
                                   THEN 1 ELSE 0 END AS INT)
           END AS n_new_tags,
           CASE WHEN c_custkey % 3 = 2 THEN NULL
                ELSE round((c_custkey * 7919) % 16000 / 100.0 - 80.0, 6)
           END AS new_lat
    FROM customer
"""

ORACLES["s1_osm_xml_roundtrip"] = """
    SELECT c_custkey AS id,
           round((c_custkey * 7919) % 16000 / 100.0 - 80.0, 6) AS lat,
           round((c_custkey * 104729) % 36000 / 100.0 - 180.0, 6) AS lon,
           c_name AS name,
           lower(c_mktsegment) AS amenity,
           CAST(1 + c_custkey % 5 AS INT) AS version
    FROM customer WHERE c_custkey % 2 = 0
"""

# the connector path must land on the identical values as the
# mapInPandas path — same oracle, deliberately
ORACLES["s19_osm_datasource"] = ORACLES["s1_osm_xml_roundtrip"]


def s17_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read evolution (S17*): two staged raw batches with
    DIFFERENT schemas — an early crawl batch without ``event_type`` and
    a later batch with it — read as one relation via Spark's
    ``mergeSchema``, the missing column NULL-filled.  The lakehouse
    answer to the reference's evolving JSON objects: old files never
    rewrite, the reader reconciles.

    Staging is write-once via PYARROW (driver-side file IO, no Spark
    job, so plan construction stays lazy); the oracle reproduces the
    batch split from the original events table with an explicit NULL
    projection, so it never depends on the staged files."""
    import os

    # Cache key includes the source parquet's mtime+size: driver
    # testdata drifts between rounds (events.ts NANOS->MICROS in r3),
    # and an existence-only check would silently serve stale staged
    # rows while the oracle reads the fresh events table.
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    tag = (f"{os.path.basename(os.path.normpath(sf_dir))}"
           f"_{int(st.st_mtime)}_{st.st_size}")
    root = os.path.join(staging.stage_root(), f"schema_evo_{tag}")
    if not (os.path.isfile(os.path.join(root, "batch_a.parquet"))
            and os.path.isfile(os.path.join(root, "batch_b.parquet"))):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(src,
                          columns=["event_id", "user_id", "event_type"])
        os.makedirs(root, exist_ok=True)
        even = pc.equal(pc.bit_wise_and(t["event_id"], 1), 0)
        pq.write_table(t.filter(even).select(["event_id", "user_id"]),
                       os.path.join(root, "batch_a.parquet"))
        pq.write_table(t.filter(pc.invert(even)),
                       os.path.join(root, "batch_b.parquet"))
    _prune_stage("schema_evo", sf_dir, os.path.basename(root))
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return (merged.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("user_id").alias("n_users")))


QUERIES["s17_schema_evolution"] = s17_schema_evolution

ORACLES["s17_schema_evolution"] = """
    WITH u AS (
        SELECT event_id, user_id, CAST(NULL AS VARCHAR) AS event_type
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, user_id, event_type
        FROM events WHERE event_id % 2 = 1)
    SELECT event_type, COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM u GROUP BY 1
"""


def s6_osm_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse projection place -> OSM entity rows
    (OprOSMDataProvider.java:57-120 ``generateEntityFromObject``): for
    every live place, explode ``source.osm`` and emit one entity row
    per element, dispatching on the element type exactly as the
    reference does —

    - ``node`` (:89-94): id + lat/lon + tags + entity info;
    - ``way`` (:103-108): same surface (the Way ctor carries lat/lon,
      tags and info; node refs are null in the draft);
    - ``relation`` (:84-87): the BARE id — the reference constructs
      ``new Relation(id)`` and returns without tags, coords or info,
      so every other column is NULL;
    - any other type (:75-77): dropped.

    The synthetic corpus stores only nodes, so the element type is
    remapped in-query from the element id (declared input prep,
    mirrored identically in the oracle) to exercise all four dispatch
    branches under the driver hash.  Live-place filter per P1
    (``fetchAllObjects`` only sees objects still in blockchain state).
    Scale shape: explode + column expressions only — no shuffle at
    all; the export is embarrassingly parallel over place partitions.
    """
    from ..sources import places as P

    pl = P.synthetic_places(spark, sf_dir)
    e = (pl.where(F.col("deleted").isNull())
         .select(F.explode("source.osm").alias("o")))
    oid = F.col("o.id")
    etype = (F.when(oid % 10 == 3, "way")
             .when(oid % 10 == 7, "relation")
             .when(oid % 10 == 9, "bogus")
             .otherwise("node"))
    e = e.select(oid.alias("osm_id"), etype.alias("entity_type"), "o")
    full = F.col("entity_type").isin("node", "way")
    return (e.where(F.col("entity_type") != "bogus")
            .select(
                "osm_id", "entity_type",
                F.when(full, F.col("o.lat")).alias("lat"),
                F.when(full, F.col("o.lon")).alias("lon"),
                F.when(full, F.size("o.tags")).cast("int").alias("n_tags"),
                F.when(full, F.col("o.tags")["name"]).alias("tag_name"),
                F.when(full, F.col("o.tags")["amenity"]).alias("tag_amenity"),
                F.when(full, F.col("o.version")).alias("version"),
                F.when(full, F.col("o.timestamp")).alias("info_timestamp"),
            ))


QUERIES["s6_osm_export"] = s6_osm_export


def _s6_oracle() -> str:
    from ..sources import places as P

    lat = (f"(((key * {P._LAT_MUL}) % {P._LAT_MOD})"
           " / CAST(100.0 AS DOUBLE) - CAST(80.0 AS DOUBLE))")
    lon = (f"(((key * {P._LON_MUL}) % {P._LON_MOD})"
           " / CAST(100.0 AS DOUBLE) - CAST(180.0 AS DOUBLE))")
    return f"""
    WITH live AS (
        SELECT c_custkey AS key, c_name, lower(c_mktsegment) AS ptype
        FROM customer WHERE c_custkey % 11 <> 0
    ),
    elems AS (
        SELECT key, c_name, ptype, key AS id FROM live
        UNION ALL
        SELECT key, c_name, ptype, key + 5000000 AS id FROM live
        WHERE key % 13 = 0 OR key % 7 = 0
    ),
    typed AS (
        SELECT *,
               CASE WHEN id % 10 = 3 THEN 'way'
                    WHEN id % 10 = 7 THEN 'relation'
                    WHEN id % 10 = 9 THEN 'bogus'
                    ELSE 'node' END AS entity_type
        FROM elems
    )
    SELECT id AS osm_id, entity_type,
           CASE WHEN entity_type <> 'relation' THEN {lat} END AS lat,
           CASE WHEN entity_type <> 'relation' THEN {lon} END AS lon,
           CASE WHEN entity_type <> 'relation'
                THEN CAST(2 AS INTEGER) END AS n_tags,
           CASE WHEN entity_type <> 'relation' THEN c_name END AS tag_name,
           CASE WHEN entity_type <> 'relation' THEN ptype END AS tag_amenity,
           CASE WHEN entity_type <> 'relation'
                THEN CAST(1 + key % 5 AS VARCHAR) END AS version,
           CASE WHEN entity_type <> 'relation'
                THEN '2021-01-01T00:00:00' END AS info_timestamp
    FROM typed WHERE entity_type <> 'bogus'
"""


ORACLES["s6_osm_export"] = _s6_oracle()


def x63_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (X63) as a driver-checkable roundtrip:
    the events projection is staged once as 32 deliberately-tiny
    parquet files (the shape a per-batch streaming ingest accretes),
    compacted via ``staging.compact_dir`` into a handful of
    scan-sized files, and the COMPACTED copy aggregated — the oracle
    aggregates the source directly, so equality proves the
    maintenance pass is lossless.  A unit additionally pins the file
    count drop (tests/test_sync_infra.py).  Write-once dirs keyed on
    the source parquet's mtime+size (the stale-cache rule); both the
    stage and the compaction execute at plan build, whitelisted in
    EAGER_BUILD_OK like the other index builders."""
    fp = staging.source_fingerprint(sf_dir, "events")
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}"
    root = os.path.join(staging.stage_root(), f"compact_{tag}")
    small = os.path.join(root, "small")
    packed = os.path.join(root, "packed")
    if not os.path.isfile(os.path.join(small, "_SUCCESS")):
        (load_table(spark, "events", sf_dir)
         .select("event_id", "event_type", "user_id", "value")
         .repartition(32)
         .write.mode("overwrite").parquet(small))
    if not os.path.isfile(os.path.join(packed, "_SUCCESS")):
        staging.compact_dir(spark, small, packed,
                            target_bytes=1024 * 1024)
    _prune_stage("compact", sf_dir, os.path.basename(root))
    return (spark.read.parquet(packed)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
                 .alias("sum_millis")))


QUERIES["x63_compact_roundtrip"] = x63_compact_roundtrip

ORACLES["x63_compact_roundtrip"] = """
    SELECT event_type, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
               AS sum_millis
    FROM events GROUP BY event_type
"""


def _partgrid_stage(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Write-once day-partitioned events layout (hive-style
    ``day_b=<epoch>/`` tree) + a sidecar pinning the corpus's first day;
    keyed on the source parquet's mtime+size (stale-cache rule).
    Returns ``(data_dir, min_day)``.  Shared by x74 (static pruning)
    and x76 (dynamic pruning)."""
    import json

    fp = staging.source_fingerprint(sf_dir, "events")
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}"
    root = os.path.join(staging.stage_root(), f"partgrid_{tag}")
    data_dir = os.path.join(root, "data")
    meta_path = os.path.join(root, "meta.json")
    if not os.path.isfile(meta_path):
        ev = load_table(spark, "events", sf_dir).select(
            (F.expr("unix_timestamp(ts) div 86400") * 86400)
            .alias("day_b"),
            "event_type",
            F.floor(F.col("value") * 1000).cast("bigint").alias("millis"))
        ev.write.mode("overwrite").partitionBy("day_b").parquet(data_dir)
        min_day = ev.agg(F.min("day_b")).first()[0]
        os.makedirs(root, exist_ok=True)
        with open(meta_path, "w") as fh:
            json.dump({"min_day": int(min_day)}, fh)
    _prune_stage("partgrid", sf_dir, os.path.basename(root))
    with open(meta_path) as fh:
        return data_dir, json.load(fh)["min_day"]


def x74_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74: partition-pruned scan — the events stream staged ONCE as a
    day-partitioned parquet layout (the hive-style ``day_b=<epoch>/``
    tree every 100 TB fact table lives in), then a single-day rollup
    that Catalyst answers by reading ONLY that day's directory:
    ``PartitionFilters`` prune at metadata time, before any IO
    (tests/test_sync_infra.py asserts the plan carries the partition
    filter and the scan's inputFiles collapse to one day).

    The pruning literal (the corpus's first day) is computed at staging
    and pinned in a sidecar next to the layout, so the query itself
    stays a pure metadata-pruned scan — no subquery against the full
    table; the oracle recomputes the same day with a scalar subquery.
    Staging is write-once keyed on the source parquet's mtime+size
    (stale-cache rule) and eager by necessity (EAGER_BUILD_OK).
    Value sums are floor-millis integers (x63 trick).
    """
    data_dir, min_day = _partgrid_stage(spark, sf_dir)
    df = (spark.read.parquet(data_dir)
          .where(F.col("day_b") == F.lit(min_day)))
    return (df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("millis").alias("sum_millis")))


QUERIES["x74_partition_prune"] = x74_partition_prune

ORACLES["x74_partition_prune"] = """
    WITH base AS (
        SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400
                   AS day_b,
               event_type,
               CAST(floor(value * 1000) AS BIGINT) AS millis
        FROM events
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(millis) AS BIGINT) AS sum_millis
    FROM base WHERE day_b = (SELECT MIN(day_b) FROM base)
    GROUP BY event_type
"""


def x76_dynamic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76: DYNAMIC partition pruning — x74's day-partitioned fact
    layout joined on its partition column to a runtime-filtered day
    dimension ("weekend" days carrying purchases), so Catalyst injects
    a ``dynamicpruningexpression`` into the fact scan: the partitions
    to read are decided at RUNTIME from the dim side's broadcast, not
    from any literal in the query text (tests/test_bucketed.py asserts
    the expression reaches the scan).  This is the star-join access
    path every partitioned 100 TB warehouse lives on — the fact scan
    cost tracks the dim filter's selectivity, not the table size.

    The dim is derived from the same corpus (days whose epoch-day index
    falls on a 2-of-7 cycle AND that carry purchase events) — a real
    selective predicate, which is what the DPP planner rule requires of
    the build side.  Output rolls up the pruned fact per event type
    with the x63 integer-millis sums.
    """
    data_dir, _ = _partgrid_stage(spark, sf_dir)
    fact = spark.read.parquet(data_dir)
    dim = (load_table(spark, "events", sf_dir)
           .select((F.expr("unix_timestamp(ts) div 86400") * 86400)
                   .alias("dim_day"),
                   "event_type")
           .where((F.col("event_type") == "purchase")
                  & (F.expr("(unix_timestamp(ts) div 86400) % 7") < 2))
           .select("dim_day").distinct())
    j = fact.join(dim, fact["day_b"] == dim["dim_day"])
    return (j.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("day_b").alias("n_days"),
                 F.sum("millis").alias("sum_millis")))


QUERIES["x76_dynamic_prune"] = x76_dynamic_prune

ORACLES["x76_dynamic_prune"] = """
    WITH base AS (
        SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400
                   AS day_b,
               (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7
                   AS day_idx7,
               event_type,
               CAST(floor(value * 1000) AS BIGINT) AS millis
        FROM events
    ), dim AS (
        SELECT DISTINCT day_b AS dim_day FROM base
        WHERE event_type = 'purchase' AND day_idx7 < 2
    )
    SELECT event_type, COUNT(*) AS n,
           COUNT(DISTINCT day_b) AS n_days,
           CAST(SUM(millis) AS BIGINT) AS sum_millis
    FROM base JOIN dim ON day_b = dim_day
    GROUP BY event_type
"""


def x75_smb_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75: both-sides-bucketed sort-merge join — orders and lineitem
    saved bucketed (16) and sorted by their order key, so the fact-fact
    join runs bucket-to-bucket with ZERO Exchange and ZERO Sort on
    either side (plan asserted by tests/test_bucketed.py; this query is
    the value check), then rolls up per order status.

    x22 proves the dimension-lookup case; this is the FACT × FACT case
    that dominates 100 TB joins — at scale, bucketing both tables at
    write time converts every recurring orderkey join from two
    full-table shuffles into a metadata proof.  Money sums use the
    floor-cents integer trick (x63) so aggregation order can't round.
    First build per sf writes the tables — eager by necessity,
    whitelisted in EAGER_BUILD_OK like the other index builders; the
    session catalog is in-memory, so each new driver session rebuilds
    from fresh source (stale-location rmtree first, x22 pattern).
    """
    from ..sources.bucketed import (drop_bucketed, ensure_fresh_bucketed,
                                    write_bucketed)

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    loc = os.path.join(staging.stage_root(), "bucketdb")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS oprbuck LOCATION '{loc}'")
    o_t, l_t = f"oprbuck.orders_{tag}", f"oprbuck.lineitem_{tag}"
    if not ensure_fresh_bucketed(spark, loc, o_t, l_t):
        drop_bucketed(spark, loc, o_t, l_t)
        write_bucketed(
            load_table(spark, "orders", sf_dir)
            .select("o_orderkey", "o_orderstatus"),
            o_t, "o_orderkey", buckets=16)
        write_bucketed(
            load_table(spark, "lineitem", sf_dir)
            .select("l_orderkey", "l_quantity", "l_extendedprice"),
            l_t, "l_orderkey", buckets=16)
    j = (spark.table(o_t).hint("merge")
         .join(spark.table(l_t),
               F.col("o_orderkey") == F.col("l_orderkey")))
    return (j.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
                 F.sum(F.floor(F.col("l_extendedprice") * 100)
                       .cast("bigint")).alias("sum_cents")))


QUERIES["x75_smb_join"] = x75_smb_join

ORACLES["x75_smb_join"] = """
    SELECT o_orderstatus, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
"""


#: explicit read schema for the CSV/JSON roundtrip — schema-on-read,
#: never inference (inference samples the data and can drift).
_S18_SCHEMA = ("c_custkey bigint, c_name string, c_acctbal double, "
               "c_mktsegment string")


def s18_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18: multi-format source/sink roundtrip — the customer
    projection is staged once as CSV (header, quoted) AND as JSON
    lines, read back through EXPLICIT schemas, and both copies joined
    against the parquet original; output is the per-segment rollup of
    the CSV copy plus zero-pinned violation counters (row lost in
    either format, any field value changed by the text roundtrip —
    doubles included, since both writers emit the shortest-repr form
    that parses back to the identical IEEE value).

    The reference exchanges data as text formats throughout (OSM XML,
    GeoJSON, gzip JSON bulk files — e.g. ``OsmSyncBot`` /
    ``PublicDataManager`` endpoints); this pins Spark's text sinks and
    sources as lossless citizens of the same engine.  Write-once dirs
    keyed on the source parquet's mtime+size (stale-cache rule); the
    staging writes execute at plan build like every builder in
    EAGER_BUILD_OK.

    Plan: both roundtripped copies join the original on the 8-byte
    key; at scale these are co-partitioned sort-merge joins feeding one
    partial-aggregating rollup — the text parse itself is the JVM's
    vectorized CSV/JSON readers, never Python.
    """
    fp = staging.source_fingerprint(sf_dir, "customer")
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}"
    root = os.path.join(staging.stage_root(), f"formats_{tag}")
    csv_dir = os.path.join(root, "csv")
    json_dir = os.path.join(root, "json")
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    if not os.path.isfile(os.path.join(csv_dir, "_SUCCESS")):
        cust.write.mode("overwrite").option("header", True).csv(csv_dir)
    if not os.path.isfile(os.path.join(json_dir, "_SUCCESS")):
        cust.write.mode("overwrite").json(json_dir)
    _prune_stage("formats", sf_dir, os.path.basename(root))
    # multiLine: a quoted field carrying a NEWLINE is torn into two
    # corrupt records by the default line-splitting reader (pinned by
    # tests/test_sync_infra.py hostile-content roundtrip).  Cost: a
    # multiLine CSV file is not split within a file — the staged dir's
    # file count carries the parallelism, and newline-bearing text at
    # real scale should ship as JSON/parquet anyway.
    csv_rt = (spark.read.schema(_S18_SCHEMA).option("header", True)
              .option("multiLine", True).csv(csv_dir))
    json_rt = spark.read.schema(_S18_SCHEMA).json(json_dir)

    def _tagged(df: DataFrame, t: str) -> DataFrame:
        return df.select(
            "c_custkey",
            F.col("c_name").alias(f"{t}_name"),
            F.col("c_acctbal").alias(f"{t}_acctbal"),
            F.col("c_mktsegment").alias(f"{t}_seg"))

    j = (cust
         .join(_tagged(csv_rt, "csv"), on="c_custkey", how="left")
         .join(_tagged(json_rt, "js"), on="c_custkey", how="left"))

    def _bad(t: str) -> Column:
        # eqNullSafe on every field: a plain != against a NULL roundtrip
        # value evaluates to NULL and the OR would collapse to the
        # "clean" branch — exactly the corruption this counter exists
        # to pin (a lost row also surfaces here: all three are NULL).
        return F.when(
            ~F.col(f"{t}_name").eqNullSafe(F.col("c_name"))
            | ~F.col(f"{t}_acctbal").eqNullSafe(F.col("c_acctbal"))
            | ~F.col(f"{t}_seg").eqNullSafe(F.col("c_mktsegment")),
            F.lit(1)).otherwise(F.lit(0))

    return (
        j.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.floor(F.col("csv_acctbal") * 100).cast("bigint"))
             .alias("sum_cents"),
             F.sum(_bad("csv")).alias("n_csv_mismatch"),
             F.sum(_bad("js")).alias("n_json_mismatch"))
    )


QUERIES["s18_format_roundtrip"] = s18_format_roundtrip

# The oracle aggregates the parquet original directly and pins both
# mismatch counters to zero — equality proves the text roundtrips are
# lossless.  SUM(BIGINT) is HUGEINT in DuckDB: cast back.
ORACLES["s18_format_roundtrip"] = """
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(0 AS BIGINT) AS n_csv_mismatch,
           CAST(0 AS BIGINT) AS n_json_mismatch
    FROM customer GROUP BY c_mktsegment
"""


def s20_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S20: columnar-format roundtrip — s18's discipline applied to ORC,
    the other lakehouse-standard columnar format Spark writes natively.
    The customer projection stages once as ORC (write-once, keyed on the
    source parquet's mtime+size), reads back through an explicit schema,
    joins the parquet original on the key, and emits the per-segment
    rollup of the ORC copy plus a zero-pinned null-safe mismatch counter
    — proving Spark's ORC writer/reader is a lossless citizen next to
    parquet (vectorized JVM path end to end; doubles survive because ORC
    stores IEEE bits, not text).

    Plan shape: co-partitioned sort-merge join on the 8-byte key into
    one partial-aggregating rollup, same as s18.
    """
    fp = staging.source_fingerprint(sf_dir, "customer")
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}"
    orc_dir = os.path.join(staging.stage_root(), f"orc_{tag}")
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    if not os.path.isfile(os.path.join(orc_dir, "_SUCCESS")):
        cust.write.mode("overwrite").orc(orc_dir)
    _prune_stage("orc", sf_dir, os.path.basename(orc_dir))
    orc_rt = (spark.read.schema(_S18_SCHEMA).orc(orc_dir)
              .select("c_custkey",
                      F.col("c_name").alias("o_name"),
                      F.col("c_acctbal").alias("o_acctbal"),
                      F.col("c_mktsegment").alias("o_seg")))
    j = cust.join(orc_rt, on="c_custkey", how="left")
    bad = F.when(
        ~F.col("o_name").eqNullSafe(F.col("c_name"))
        | ~F.col("o_acctbal").eqNullSafe(F.col("c_acctbal"))
        | ~F.col("o_seg").eqNullSafe(F.col("c_mktsegment")),
        F.lit(1)).otherwise(F.lit(0))
    return (j.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.floor(F.col("o_acctbal") * 100).cast("bigint"))
                 .alias("sum_cents"),
                 F.sum(bad).alias("n_orc_mismatch")))


QUERIES["s20_orc_roundtrip"] = s20_orc_roundtrip

ORACLES["s20_orc_roundtrip"] = """
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(0 AS BIGINT) AS n_orc_mismatch
    FROM customer GROUP BY c_mktsegment
"""


def s21_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S21: malformed-record quarantine on JSONL ingest — the
    data-quality gate every at-scale text ingest needs: customer rows
    staged as JSON lines with every key%10==0 line deterministically
    corrupted (brace mangled), read back in PERMISSIVE mode with an
    explicit ``_corrupt_record`` column, and rolled up per segment —
    corrupted rows land in the NULL-segment quarantine bucket with
    their raw text preserved (``n_quarantined``), parsed rows keep
    value-exact fields (integer-cents sum).

    The oracle reproduces both populations from the parquet original
    (key%10 != 0 parsed per segment, key%10 == 0 in the NULL bucket),
    so hash equality pins Spark's permissive-mode semantics: corrupt
    rows NULL every data field, populate only the raw-record column,
    and are never silently dropped — the quarantine contract.
    (FAILFAST/DROPMALFORMED are the documented alternatives; PERMISSIVE
    + quarantine is the 100 TB default because a bad shard must not
    kill or silently shrink the job.)  Staging is write-once, keyed on
    source mtime+size; plan stays the vectorized JVM JSON reader.
    """
    import json as _json

    fp = staging.source_fingerprint(sf_dir, "customer")
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}"
    path = os.path.join(staging.stage_root(), f"badjson_{tag}", "rows.jsonl")
    if not os.path.isfile(path):
        import pyarrow.parquet as pq

        t = pq.read_table(
            os.path.join(sf_dir, "customer.parquet"),
            columns=["c_custkey", "c_name", "c_acctbal", "c_mktsegment"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            for r in t.to_pylist():
                line = _json.dumps(r, ensure_ascii=False)
                if r["c_custkey"] % 10 == 0:
                    line = "{X" + line[1:]  # unparseable, text preserved
                fh.write(line + "\n")
        os.replace(tmp, path)
    _prune_stage("badjson", sf_dir,
                 os.path.basename(os.path.dirname(path)))
    schema = (_S18_SCHEMA + ", _corrupt_record string")
    rows = (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(os.path.dirname(path)))
    return (rows.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.floor(F.col("c_acctbal") * 100).cast("bigint"))
                 .alias("sum_cents"),
                 F.count("_corrupt_record").alias("n_quarantined")))


QUERIES["s21_corrupt_quarantine"] = s21_corrupt_quarantine

ORACLES["s21_corrupt_quarantine"] = """
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(0 AS BIGINT) AS n_quarantined
    FROM customer WHERE c_custkey % 10 <> 0
    GROUP BY c_mktsegment
    UNION ALL
    SELECT NULL, COUNT(*), NULL, COUNT(*)
    FROM customer WHERE c_custkey % 10 = 0
"""
