"""History change-report pipeline (§3.2, OprHistoryChangesProvider).

The reference's `history` endpoint scans block headers in a date
window (S11/J9), classifies each operation's change paths (P6:
``source.osm[i].deleted`` index extraction, ``images*`` prefix,
place-level ``deleted``), applies the closed-place review predicate
(P7: main osm ref dead ∧ place alive), buckets by tile and greedily
clusters within 150 m (G2), emitting ordered [deleted…, created…]
groups (P4 projection).

Here the same pipeline runs over a deterministic synthetic operations
corpus (SQL-mirrorable, below).  ``p6`` and ``p7`` are value-checked
against DuckDB; the full grouped report is rows-only (greedy
clustering is order-dependent, non-SQL).

Scale shape: the window filter prunes the ops scan (operations are
date-partitioned at scale); classification is pure string/regexp
column work; only the final per-tile clustering leaves the JVM.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo
from ..functions import text as TX
from ..functions.dialect import DUCKDB, SPARK
from ..operators import changelog as C
from ..operators import cluster
from ..sources import places as P
from ..sources.places import synthetic_tile
from ..sources.testdata import load_table, stage_plan

TOMBSTONE = "2021-06-15T00:00:00"
WINDOW_START, WINDOW_END = "2021-06-05", "2021-06-20"

#: P6 path pattern (OprHistoryChangesProvider.java:468-479)
_OSM_DELETED_RE = r'"source\.osm\[(\d+)\]\.deleted"'

_PLACE_DOC_DDL = (
    "struct<source:struct<osm:array<struct<"
    "id:long,type:string,osm_tag:string,osm_value:string,"
    "tags:map<string,string>,lat:double,lon:double,"
    "version:string,changeset:string,timestamp:string,"
    "deleted:string>>>,deleted:string>")


@stage_plan("customer")
def synthetic_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic operations corpus over the place ids:

    per customer key k — block_date = 2021-06-01 + (k % 30) days;
    k%5==1 → create, k%5==2 → delete, k%5==3 → edit with change by k%3:
    0 → tombstone osm ref, 1 → images.review append, 2 → name set.
    """
    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    obj_id = F.concat_ws(",", F.expr(synthetic_tile(SPARK)),
                         F.substring(F.md5(k.cast("string")), 1, 6))
    change = (
        F.when(k % 3 == 0, F.lit(
            '{"source.osm[0].deleted": {"set": "' + TOMBSTONE + '"}}'))
        .when(k % 3 == 1, F.format_string(
            '{"images.review": {"append": {"cid": "c%d"}}}', k))
        .otherwise(F.format_string(
            '{"source.osm[0].tags.name": {"set": "Renamed %d"}}', k))
    )
    action = (F.when(k % 5 == 1, "create").when(k % 5 == 2, "delete")
              .when(k % 5 == 3, "edit"))
    return (
        c.select(
            k.alias("key"), obj_id.alias("obj_id"),
            F.date_add(F.lit("2021-06-01").cast("date"),
                       (k % 30).cast("int")).alias("block_date"),
            (k % 30).cast("long").alias("block_id"),
            F.lit(0).cast("long").alias("op_seq"),
            action.alias("action"),
            F.lit(None).cast("string").alias("doc"),
            F.when(action == "edit", change).alias("change"),
            F.expr(P.synthetic_lat(SPARK)).alias("lat"),
            F.expr(P.synthetic_lon(SPARK)).alias("lon"),
        )
        .where(action.isNotNull())
    )


def p6_change_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 date-window scan + P6 change-path classification, straight
    off the raw change strings (regexp — identical in any engine)."""
    ops = synthetic_ops(spark, sf_dir)
    idx_s = F.regexp_extract("change", _OSM_DELETED_RE, 1)
    category = (
        F.when(F.col("action") == "create", "created")
        .when(F.col("action") == "delete", "removed")
        .when(idx_s != "", "osm_ref_deleted")
        .when(F.col("change").contains('"images'), "images")
        .otherwise("tag_edit")
    )
    return (
        ops.where(F.col("block_date").between(WINDOW_START, WINDOW_END))
        .select("obj_id", "block_date", category.alias("category"),
                F.when(idx_s != "", idx_s.cast("int")).alias("ref_idx"))
    )


def p7_review_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 through the real machinery: fold the window's tombstone edits
    onto the place corpus (M9), re-derive the main element (P2), and
    flag places whose main osm ref is dead while the place is alive."""
    places = P.synthetic_places(spark, sf_dir)
    docs = places.select(
        F.concat_ws(",", "tile_id", "suffix").alias("obj_id"),
        F.to_json(F.struct("source", "deleted")).alias("doc"))
    ops = (synthetic_ops(spark, sf_dir)
           .where(F.col("block_date").between(WINDOW_START, WINDOW_END))
           .where(F.col("action") == "edit"))
    folded = C.apply_operations(docs, ops)
    parsed = folded.select(
        "obj_id", F.from_json("doc", _PLACE_DOC_DDL).alias("d"))
    live = F.filter(F.col("d.source.osm"), lambda x: x["deleted"].isNull())
    main = F.coalesce(F.try_element_at(live, F.lit(1)),
                      F.try_element_at(F.col("d.source.osm"), F.lit(1)))
    return parsed.select(
        "obj_id",
        (main["deleted"].isNotNull()
         & F.col("d.deleted").isNull()).alias("needs_review"),
    )


def history_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full report: window ops → classify → status features → G2
    per-tile clustering → per-tile invariant report (rows-only since
    r1, upgraded r6 to the same oracle-checkable invariant shape as
    ``g2_proximity_groups``: the oracle recomputes the per-tile input
    mirror from the ops corpus and pins every violation counter at
    zero, so the greedy kernel's structural guarantees get a driver
    hash even though exact group assignment stays greedy).

    The ops join is deterministically deduped (min (key, lat, lon)
    struct per obj_id) — ``dropDuplicates`` picks an arbitrary row and
    nondeterminism is a correctness bug here.
    """
    classified = p6_change_classification(spark, sf_dir)
    ops = (synthetic_ops(spark, sf_dir)
           .groupBy("obj_id")
           .agg(F.min(F.struct("key", "lat", "lon")).alias("m"))
           .select("obj_id", F.col("m.key").alias("key"),
                   F.col("m.lat").alias("lat"), F.col("m.lon").alias("lon")))
    status = (
        F.when(F.col("category") == "created", "created")
        .when(F.col("category").isin("removed", "osm_ref_deleted"), "deleted")
    )
    feats = (
        classified.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .join(ops, on="obj_id")
        .select(F.substring("obj_id", 1, 4).alias("tile"),
                F.col("key").alias("id"), "lat", "lon", "status")
    )
    groups = cluster.greedy_proximity_groups(feats, dist_m=150.0)
    return cluster.invariant_report(groups, dist_m=150.0)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "p6_change_classification": p6_change_classification,
    "p7_review_candidates": p7_review_candidates,
    "history_report": history_report,
}

_TILE = synthetic_tile(DUCKDB)

_OPS_CTE = f"""
    ops AS (
        SELECT c_custkey AS k,
               {_TILE} || ',' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)
                   AS obj_id,
               CAST(DATE '2021-06-01' + CAST(c_custkey % 30 AS INTEGER)
                    AS DATE) AS block_date,
               CASE WHEN c_custkey % 5 = 1 THEN 'create'
                    WHEN c_custkey % 5 = 2 THEN 'delete'
                    WHEN c_custkey % 5 = 3 THEN 'edit' END AS action
        FROM customer
        WHERE c_custkey % 5 IN (1, 2, 3)
    )"""

ORACLES: dict[str, str] = {
    "p6_change_classification": f"""
        WITH {_OPS_CTE}
        SELECT obj_id, block_date,
               CASE WHEN action = 'create' THEN 'created'
                    WHEN action = 'delete' THEN 'removed'
                    WHEN k % 3 = 0 THEN 'osm_ref_deleted'
                    WHEN k % 3 = 1 THEN 'images'
                    ELSE 'tag_edit' END AS category,
               CASE WHEN action = 'edit' AND k % 3 = 0 THEN 0 END AS ref_idx
        FROM ops
        WHERE block_date BETWEEN DATE '{WINDOW_START}' AND DATE '{WINDOW_END}'
    """,
    # invariant oracle (r6): the per-tile mirror is recomputed from the
    # ops corpus (created = in-window creates; deleted = in-window
    # deletes + tombstone edits, i.e. p6's removed/osm_ref_deleted) and
    # every greedy-kernel violation counter is pinned at literal zero —
    # the g2_proximity_groups pattern.  Relies on obj_id being unique
    # per customer key (verified: zero collisions at sf0.001/0.01/0.1).
    "history_report": f"""
        WITH {_OPS_CTE},
        cls AS (
            SELECT obj_id,
                   CASE WHEN action = 'create' THEN 'created'
                        WHEN action = 'delete' THEN 'deleted'
                        WHEN k % 3 = 0 THEN 'deleted'
                        ELSE NULL END AS status
            FROM ops
            WHERE block_date BETWEEN DATE '{WINDOW_START}'
                                 AND DATE '{WINDOW_END}'
        )
        SELECT substr(obj_id, 1, 4) AS tile,
               CAST(COUNT(CASE WHEN status = 'deleted' THEN 1 END)
                    AS BIGINT) AS n_deleted,
               CAST(COUNT(CASE WHEN status = 'created' THEN 1 END)
                    AS BIGINT) AS n_created,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(0 AS BIGINT) AS n_dup_ids,
               CAST(0 AS BIGINT) AS n_ungrouped_deleted,
               CAST(0 AS BIGINT) AS n_seed_violations,
               CAST(0 AS BIGINT) AS n_order_violations,
               CAST(0 AS BIGINT) AS n_seq_violations,
               CAST(0 AS BIGINT) AS n_dist_violations
        FROM cls WHERE status IS NOT NULL
        GROUP BY 1
    """,
    # P7 truth table.  The in-window tombstone edit (k%5==3, k%3==0)
    # kills osm[0]; afterwards the main ref is dead for single-ref
    # places AND for k%7 places (their second ref was already dead) —
    # only k%13 places keep a live main (edit hits the already-dead
    # first ref; the live alt survives).  Review also needs the place
    # itself alive (k%11 != 0).
    "p7_review_candidates": f"""
        WITH {P.places_sql_cte()},
        edits AS (
            SELECT substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS sfx,
                   c_custkey AS k
            FROM customer
            WHERE c_custkey % 5 = 3 AND c_custkey % 3 = 0
              AND CAST(DATE '2021-06-01' + CAST(c_custkey % 30 AS INTEGER)
                       AS DATE)
                  BETWEEN DATE '{WINDOW_START}' AND DATE '{WINDOW_END}'
        )
        SELECT p.tile_id || ',' || p.suffix AS obj_id,
               (e.k IS NOT NULL AND e.k % 13 != 0 AND e.k % 11 != 0)
                   AS needs_review
        FROM places p LEFT JOIN edits e ON p.suffix = e.sfx
    """,
}


def j7_history_full_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 in its history composition (§3.2 step 4, the ≥1-month
    fullCheck): window's tombstoned places re-joined against the LIVE
    corpus — a surviving similar active place within 150 m means the
    closure needs review against current state.

    Output: one row per (tombstoned place, live similar neighbor).
    """
    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    tombstoned = (
        c.where((k % 5 == 3) & (k % 3 == 0))
        .where(F.date_add(F.lit("2021-06-01").cast("date"),
                          (k % 30).cast("int"))
               .between(WINDOW_START, WINDOW_END))
        .select(k.alias("key"),
                F.expr(P.synthetic_lat(SPARK)).alias("lat"),
                F.expr(P.synthetic_lon(SPARK)).alias("lon"),
                F.concat_ws(" ", F.col("c_name"),
                            F.lower("c_mktsegment")).alias("name"))
    )
    active = P.synthetic_active_flat(spark, sf_dir)
    t = tombstoned.alias("t")
    a = active.alias("a")
    dist = F.expr(geo.haversine_m(SPARK, "t.lat", "t.lon", "a.lat", "a.lon"))
    blk_t = F.substring(F.expr(geo.olc_encode(SPARK, "t.lat", "t.lon", 6)),
                        1, 4)
    blk_a = F.substring(F.col("a.tile_id"), 1, 4)
    return (
        t.join(a, blk_t == blk_a)
        .withColumn("dist_m", dist)
        .where(F.col("dist_m") <= 150)
        .where(F.expr(TX.check_names(SPARK, "t.name", "a.name")))
        .select(F.col("t.key").alias("closed_key"),
                F.col("a.id").alias("live_id"),
                F.round("dist_m", 2).alias("dist_m"))
    )


QUERIES["j7_history_full_check"] = j7_history_full_check

_T_LAT = P.synthetic_lat(DUCKDB, "t.k")
_T_LON = P.synthetic_lon(DUCKDB, "t.k")
_T_DIST = geo.haversine_m(DUCKDB, _T_LAT, _T_LON, "a.lat", "a.lon")
_T_NAMES_MATCH = TX.check_names(
    DUCKDB, "(t.c_name || ' ' || lower(t.c_mktsegment))", "a.name")

ORACLES["j7_history_full_check"] = f"""
    WITH {P.flat_snapshots_sql_ctes()},
    tomb AS (
        SELECT c_custkey AS k, c_name, c_mktsegment FROM customer
        WHERE c_custkey % 5 = 3 AND c_custkey % 3 = 0
          AND CAST(DATE '2021-06-01' + CAST(c_custkey % 30 AS INTEGER)
                   AS DATE)
              BETWEEN DATE '{WINDOW_START}' AND DATE '{WINDOW_END}'
    )
    SELECT t.k AS closed_key, a.id AS live_id,
           round({_T_DIST}, 2) AS dist_m
    FROM tomb t JOIN active a
      ON substr({geo.olc_encode(DUCKDB, _T_LAT, _T_LON, 6)}, 1, 4)
         = substr(a.tile_id, 1, 4)
    WHERE {_T_DIST} <= 150.0
      AND {_T_NAMES_MATCH}
"""


def p4_history_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: the FULL per-feature property projection of the history
    report (OprHistoryChangesProvider.addFeature + generateFieldsFrom
    OsmSource, OprHistoryChangesProvider.java:406-503):

    - ``title`` = status + " " + tags.name (getTitle falls back to the
      place type when nameless — these synthetic places are all named);
    - ``color``: Created→blue, Removed→red, Edited→green
      (constants at OprHistoryChangesProvider.java:69-75); an edit
      whose change tombstones an osm ref surfaces as Removed (the
      REVIEW_CLOSED_PLACES flow), other edits as Edited;
    - ``place_type`` = main osm_value; ``deleted_place`` when the place
      document carries a tombstone; ``img_review_size`` as a STRING
      (the reference stringifies it);
    - flattened main-osm fields: ``osm_id`` (long), ``osm_type``,
      stringified version/timestamp, lat/lon;
    - ``tags_json``: the tags object serialized (generateTagsForEntity);
    - ``opr_id`` = "tile,suffix" (generateStringId).

    Main-element selection is the P2 rule (first live ref, else first).
    """
    classified = p6_change_classification(spark, sf_dir)
    places = P.synthetic_places(spark, sf_dir).withColumn(
        "obj_id", F.concat_ws(",", "tile_id", "suffix"))
    live = F.filter(F.col("source.osm"), lambda x: x["deleted"].isNull())
    main = F.coalesce(F.try_element_at(live, F.lit(1)),
                      F.try_element_at(F.col("source.osm"), F.lit(1)))
    status = (
        F.when(F.col("category") == "created", "Created")
        .when(F.col("category").isin("removed", "osm_ref_deleted"),
              "Removed")
        .otherwise("Edited")
    )
    color = (
        F.when(status == "Created", "blue")
        .when(status == "Removed", "red")
        .otherwise("green")
    )
    review = F.try_element_at(F.col("images"), F.lit("review"))
    return (
        classified.join(places, on="obj_id")
        .withColumn("m", main)
        .select(
            F.col("obj_id").alias("opr_id"),
            status.alias("status"),
            color.alias("color"),
            F.concat_ws(" ", status, F.col("m.tags")["name"]).alias("title"),
            F.col("m.osm_value").alias("place_type"),
            F.col("m.id").alias("osm_id"),
            F.col("m.type").alias("osm_type"),
            F.col("m.version").alias("osm_version"),
            F.col("m.timestamp").alias("osm_timestamp"),
            F.round(F.col("m.lat"), 6).alias("lat"),
            F.round(F.col("m.lon"), 6).alias("lon"),
            F.col("deleted").alias("deleted_place"),
            F.when(review.isNotNull(),
                   F.size(review).cast("string")).alias("img_review_size"),
            F.to_json(F.col("m.tags")).alias("tags_json"),
        )
    )


QUERIES["p4_history_features"] = p4_history_features

ORACLES["p4_history_features"] = f"""
    WITH {P.places_sql_cte()},
    {_OPS_CTE},
    cls AS (
        SELECT obj_id, k,
               CASE WHEN action = 'create' THEN 'Created'
                    WHEN action = 'delete' THEN 'Removed'
                    WHEN k % 3 = 0 THEN 'Removed'
                    ELSE 'Edited' END AS status
        FROM ops
        WHERE block_date BETWEEN DATE '{WINDOW_START}'
                             AND DATE '{WINDOW_END}'
    )
    SELECT p.tile_id || ',' || p.suffix AS opr_id,
           c.status AS status,
           CASE c.status WHEN 'Created' THEN 'blue'
                         WHEN 'Removed' THEN 'red'
                         ELSE 'green' END AS color,
           c.status || ' ' || p.name AS title,
           p.placetype AS place_type,
           p.main_osm_id AS osm_id,
           'node' AS osm_type,
           p.version AS osm_version,
           '2021-01-01T00:00:00' AS osm_timestamp,
           round(p.lat, 6) AS lat,
           round(p.lon, 6) AS lon,
           p.deleted AS deleted_place,
           CASE WHEN p.key % 2 = 1 THEN '1' END AS img_review_size,
           '{{"name":"' || p.name || '","amenity":"' || p.placetype || '"}}'
               AS tags_json
    FROM cls c JOIN places p ON p.tile_id || ',' || p.suffix = c.obj_id
"""
