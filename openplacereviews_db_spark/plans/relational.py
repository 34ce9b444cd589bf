"""Relational query plans — the reference's operator inventory (SURVEY.md
§2) re-expressed over the driver's TPC-H-ish tables, each with a DuckDB
oracle for hash-matched correctness.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; the
``ORACLES`` dict holds the equivalent ANSI SQL (DuckDB dialect kept to the
portable subset).  Column names and types are aligned on both sides; all
floating-point aggregates are rounded before output so cross-engine
summation order cannot flip the value hash.

Scale notes are inline per query: which side broadcasts, what the shuffle
key is, and why the plan survives 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import geo
from ..functions import text as T
from ..functions.dialect import DUCKDB, SPARK
from ..sources.testdata import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# Scans / projections  (SURVEY §2.1 S6/S7, §2.2 P1)
# ---------------------------------------------------------------------------

def s7_keys_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys-only scan with filter — column pruning + predicate pushdown
    (reference S7 requestOnlyKeys, OprSummaryPlaceDataProvider.java:30-32).
    The scan should read exactly 3 columns and push both predicates."""
    return (
        _t(spark, sf_dir, "orders")
        .where((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000))
        .select("o_orderkey", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Aggregations  (SURVEY §2.4; flagship = TPC-H Q1 shape)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scan→filter→aggregate (the geoall report A1 generalized to
    a full measure set).  One shuffle on the 6-value group key; partial
    aggregation map-side; at 100 TB this is scan-bound, as it should be."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def a1_area_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geoall area-count report (A1, OprSummaryPlaceDataProvider.java:26-59):
    synthesize deterministic coordinates per event, bucket to a 1° grid,
    count per cell, emit the cell center.  Partition pruning analog: the
    grid key is the shuffle key; at scale the places table would be
    partitioned by this key and the groupBy becomes partition-local."""
    ev = _t(spark, sf_dir, "events")
    lat = (F.col("event_id") % 3400) / 20.0 - 85.0
    lon = (F.col("event_id") % 7100) / 20.0 - 177.5
    ev = ev.select(
        geo.grid_tile(lat, lon, 1.0).alias("tile"),
        F.floor(lat + 90.0).alias("_ty"),
        F.floor(lon + 180.0).alias("_tx"),
    )
    return (
        ev.groupBy("tile", "_ty", "_tx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "tile", "cnt",
            (F.col("_ty") - 90.0 + 0.5).alias("center_lat"),
            (F.col("_tx") - 180.0 + 0.5).alias("center_lon"),
        )
    )


# ---------------------------------------------------------------------------
# Joins  (SURVEY §2.3)
# ---------------------------------------------------------------------------

def q3_segment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⨝orders⨝lineitem with group-agg and deterministic top-10
    (TPC-H Q3 shape; covers the reference's equi-join + sort/limit O1/O4).
    customer is the true dimension → broadcast; orders and lineitem are
    both facts, so no broadcast HINT on either: at small SF Catalyst may
    still stats-broadcast orders (it is under the 10 MB threshold, the
    right call), but at 100× the threshold trips and the same plan
    degrades gracefully to a shuffle join instead of an OOM."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders.join(F.broadcast(cust),
                            orders.o_custkey == cust.c_custkey),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join (TPC-H Q5 shape): true dimensions (supplier,
    customer, nation, region) broadcast; orders⨝lineitem is a fact-fact
    join with no hint — Catalyst may stats-broadcast the 2-column orders
    projection while it fits, and falls back to a shuffle join at scale
    where a forced broadcast would OOM."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders.select("o_orderkey", "o_custkey"),
              li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )


def j1_argmax_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-version match per key (J1/A6, OsmSyncBot.java:434-444): for each
    part, the single highest-price lineitem with a deterministic tie-break,
    joined to the part dimension.  Window shuffle on p_partkey only."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("l_partkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    best = (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_partkey", "l_orderkey", "l_linenumber",
                F.round("l_extendedprice", 2).alias("best_price"))
    )
    return best.join(F.broadcast(part.select("p_partkey", "p_name")),
                     best.l_partkey == part.p_partkey).drop("p_partkey")


def s9_inverse_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment lookup (S9 osmid GIN index, OsmSyncBot.java:413-449):
    "orders containing part 42" via the exploded side-table — the scalable
    replacement for an array-containment scan at 100 TB (SURVEY §1.6)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") == 42)
    orders = _t(spark, sf_dir, "orders")
    hits = li.select("l_orderkey").distinct()
    return (
        orders.join(hits, orders.o_orderkey == hits.l_orderkey)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )


def j6_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Already-reviewed anti-join (J6): customers with no orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def j7_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existential semi-join (J7 fullCheck): customers with at least one
    open ('O') order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_nationkey")
    )


def j10_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-login-per-nickname (J10, UserSchemaManager.java:210-228) as
    latest event per user: row_number over (user, ts desc) = 1."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type",
                F.round("value", 2).alias("value"))
    )


def j2_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """150 m proximity join (J2, OprHistoryChangesProvider.java:185-209)
    with synthesized dense coordinates.  The probe side (5 % of events)
    explodes its 3×3 tile neighborhood; the build side keys by its own
    tile — an equi-join on the cell id, border-correct, never quadratic.
    At 100 TB the same plan holds: cell id is the shuffle key and skew is
    handled by AQE.

    Cell size 0.002° ≈ 222 m: the 3×3 neighborhood is lossless for any
    cell ≥ the 150 m radius, and the smallest sufficient cell minimizes
    candidates — at 0.05° each cell held ~37× the radius in each axis,
    ~1300× more candidate pairs than needed (measured 4-6 s; now sub-s).
    The oracle is blocking-free (exact distance filter), so the cell
    size provably cannot change the result.

    The synthetic grid is DENSITY-CONSTANT across data decades: every
    block of 100k event ids gets its own 2°-wide longitude box (0.5°
    gaps ≫ 150 m, so boxes never interact) — 100 TB of events covers
    more AREA at the same density, the way a real place corpus grows,
    so pair counts scale linearly with rows instead of quadratically
    (r10: stacked copies at sf10 densified one box to 2.5B pairs).
    Block 0 spans every driver scale (sf0.1 tops out at id 99 999), so
    values there are identical to the single-box grid."""
    cell = 0.002
    ev = _t(spark, sf_dir, "events")
    lat = (F.col("event_id") % 2000) * 0.001
    lon = (((F.col("event_id") * 7) % 2000) * 0.001
           + (F.expr("event_id div 100000") % 140) * 2.5)
    pts = ev.select(F.col("event_id").alias("id"), lat.alias("lat"), lon.alias("lon"))
    probes = (
        pts.where(F.col("id") % 20 == 0)
        .select("id", "lat", "lon",
                F.explode(geo.tile_neighbors(F.col("lat"), F.col("lon"), cell)).alias("tile"))
    )
    build = pts.select(
        F.col("id").alias("id_b"), F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        geo.grid_tile(F.col("lat"), F.col("lon"), cell).alias("tile"),
    )
    dist = F.expr(geo.haversine_m(SPARK, "lat", "lon", "lat_b", "lon_b"))
    return (
        probes.join(build, on="tile")
        .where(F.col("id") != F.col("id_b"))
        .withColumn("dist_m", F.round(dist, 3))
        .where(F.col("dist_m") < 150)
        .select(F.col("id").alias("probe_id"), F.col("id_b").alias("match_id"), "dist_m")
        .dropDuplicates(["probe_id", "match_id"])
    )


def j4_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-similarity join (J4, MergeUtil.java match cascade): part-name
    pairs within levenshtein ≤ 2, blocked by brand (the reference blocks by
    tile; blocking turns the fuzzy join into an equi-join + cheap verify)."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand",
        F.lower(F.col("p_name")).alias("lname"),
        F.length("p_name").alias("nlen"),
    )
    # The probe side is re-partitioned by key so the quadratic verify work
    # spreads across all cores; the build side is broadcast (small dim).
    # Without this the broadcast join would run in the scan's single task.
    n_parts = spark.sparkContext.defaultParallelism
    a = part.repartition(n_parts, "p_partkey").alias("a")
    b = F.broadcast(part).alias("b")
    return (
        a.join(b, F.col("a.p_brand") == F.col("b.p_brand"))
        .where(F.col("a.p_partkey") < F.col("b.p_partkey"))
        # lev <= 2 implies |len(a)-len(b)| <= 2: cheap prune before the
        # O(len^2) edit-distance (same predicate in the oracle)
        .where(F.abs(F.col("a.nlen") - F.col("b.nlen")) <= 2)
        .withColumn("lev", F.levenshtein(F.col("a.lname"), F.col("b.lname")))
        .where(F.col("lev") <= 2)
        .select(F.col("a.p_partkey").alias("key_a"),
                F.col("b.p_partkey").alias("key_b"),
                F.col("a.p_brand").alias("brand"), "lev")
    )


# ---------------------------------------------------------------------------
# Projections through nested/main-element semantics  (P2)
# ---------------------------------------------------------------------------

def p2_main_element(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-OSM selection (P2, MergeUtil.java:209-229): first non-deleted
    source element with a fallback to the plain first.  Here: per order,
    the first non-returned ('N') lineitem by linenumber, else the first.
    Implemented with the reference's semantics — array filter + element_at
    + coalesce over the collected line array."""
    li = _t(spark, sf_dir, "lineitem")
    lines = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list(
            F.struct("l_linenumber", "l_returnflag", "l_partkey"))).alias("ls"))
    )
    live = F.filter(F.col("ls"), lambda x: x["l_returnflag"] == "N")
    main = F.coalesce(F.try_element_at(live, F.lit(1)),
                      F.try_element_at(F.col("ls"), F.lit(1)))
    return lines.select(
        F.col("l_orderkey").alias("o_orderkey"),
        main["l_partkey"].alias("main_partkey"),
        main["l_linenumber"].alias("main_linenumber"),
    )


# ---------------------------------------------------------------------------
# Set ops / CDC extract  (E1), sequence ops (G1), windows, dates
# ---------------------------------------------------------------------------

def e1_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC extract (E1 generateDiff, PlaceOpObjectHelper.java:120-138):
    full-outer join of two snapshots → added / removed / changed rows.
    This is the core diff operator of the changelog pipeline."""
    orders = _t(spark, sf_dir, "orders")
    old = (
        orders.where(F.col("o_orderkey") % 3 != 0)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("v_old"))
    )
    new = (
        orders.where(F.col("o_orderkey") % 5 != 0)
        .select(
            "o_orderkey",
            (F.round("o_totalprice", 2)
             + F.when(F.col("o_orderkey") % 7 == 0, F.lit(1.0))
             .otherwise(F.lit(0.0))).alias("v_new"),
        )
    )
    j = old.join(new, on="o_orderkey", how="full_outer")
    change = (
        F.when(F.col("v_old").isNull(), F.lit("added"))
        .when(F.col("v_new").isNull(), F.lit("removed"))
        .when(F.col("v_old") != F.col("v_new"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return (
        j.withColumn("change_type", change)
        .where(F.col("change_type") != "same")
        .select("o_orderkey", "change_type", "v_old", "v_new")
    )


def e3_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (E2/E3 family): customers having both fulfilled
    and open orders."""
    orders = _t(spark, sf_dir, "orders")
    f_keys = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    o_keys = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_keys.intersect(o_keys)


def g1_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group segmentation (G1, MergeUtil.java:99-113): split an ordered
    sequence into groups at boundary events.  Here: sessionize events per
    user with a 30-minute gap rule — the same lag+cumulative-sum window
    pattern SURVEY §2.8 prescribes."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flag = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


def w1_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative window (§2.5): per-customer running revenue in
    order-date order with deterministic tie-break."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


def o1_distance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-by-distance + limit (O1, OsmMapUtils.java:292-299): 100 events
    nearest to a fixed point, deterministic ordering."""
    ev = _t(spark, sf_dir, "events")
    one = SPARK.dbl(1.0)
    dist = F.expr(geo.haversine_m(
        SPARK, f"((event_id % 2000) * {SPARK.dbl(0.001)})",
        f"(((event_id * 7) % 2000) * {SPARK.dbl(0.001)})", one, one))
    return (
        ev.select(F.col("event_id"), F.round(dist, 3).alias("dist_m"))
        .orderBy(F.asc("dist_m"), F.asc("event_id"))
        .limit(100)
    )


def d1_date_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function kit (§2.9): month truncation, day diffs, month
    windows — the reference's merge-bot window arithmetic shapes."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month"),
        F.datediff(F.lit("2001-12-31").cast("date"),
                   F.col("o_orderdate").cast("date")).alias("days_before_cutoff"),
        (F.col("o_orderdate").cast("date") >=
         F.add_months(F.lit("2001-12-31").cast("date"), -9)).alias("in_9_month_window"),
    )


def t1_text_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function kit (§2.9): simple_name, tokenization count,
    capitalize-display — over part names."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        T.simple_name(F.col("p_name")).alias("simple_name"),
        F.expr(f"size({T.tokenize_words(SPARK, 'p_name')})").alias("n_words"),
        T.display_place_type(F.col("p_type")).alias("display_type"),
        F.concat_ws(",", F.col("p_brand"), F.col("p_name")).alias("joined_id"),
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "s7_keys_scan": s7_keys_scan,
    "q1_pricing_summary": q1_pricing_summary,
    "a1_area_summary": a1_area_summary,
    "q3_segment_topk": q3_segment_topk,
    "q5_region_revenue": q5_region_revenue,
    "j1_argmax_join": j1_argmax_join,
    "s9_inverse_index_lookup": s9_inverse_index_lookup,
    "j6_anti_join": j6_anti_join,
    "j7_semi_join": j7_semi_join,
    "j10_latest_event": j10_latest_event,
    "j2_proximity_pairs": j2_proximity_pairs,
    "j4_fuzzy_name_join": j4_fuzzy_name_join,
    "p2_main_element": p2_main_element,
    "e1_snapshot_diff": e1_snapshot_diff,
    "e3_intersect_keys": e3_intersect_keys,
    "g1_sessionize": g1_sessionize,
    "w1_running_total": w1_running_total,
    "o1_distance_topk": o1_distance_topk,
    "d1_date_kit": d1_date_kit,
    "t1_text_kit": t1_text_kit,
}

_AB_DIST = geo.haversine_m(DUCKDB, "a.lat", "a.lon", "b.lat", "b.lon")
_O1_DIST = geo.haversine_m(DUCKDB, "lat", "lon", "1.0", "1.0")

ORACLES: dict[str, str] = {
    "s7_keys_scan": """
        SELECT o_orderkey, o_orderpriority FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 100000
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                        AS sum_qty,
               round(sum(l_extendedprice), 2)                                   AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
               round(avg(l_quantity), 4)                                        AS avg_qty,
               round(avg(l_extendedprice), 4)                                   AS avg_price,
               round(avg(l_discount), 6)                                        AS avg_disc,
               count(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "a1_area_summary": """
        WITH pts AS (
            SELECT CAST(floor((((event_id % 7100) / 20.0 - 177.5) + 180.0) / 1.0) AS BIGINT) AS tx,
                   CAST(floor((((event_id % 3400) / 20.0 - 85.0) + 90.0) / 1.0) AS BIGINT)  AS ty
            FROM events)
        SELECT (tx || ':' || ty) AS tile, count(*) AS cnt,
               CAST(ty - 90.0 + 0.5  AS DOUBLE) AS center_lat,
               CAST(tx - 180.0 + 0.5 AS DOUBLE) AS center_lon
        FROM pts GROUP BY tx, ty
    """,
    "q3_segment_topk": """
        SELECT o_orderkey, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate  > TIMESTAMP '1995-03-15'
        GROUP BY o_orderkey, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q5_region_revenue": """
        SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE s_nationkey = c_nationkey AND r_name = 'ASIA'
        GROUP BY n_name
    """,
    "j1_argmax_join": """
        WITH ranked AS (
            SELECT l_partkey, l_orderkey, l_linenumber,
                   round(l_extendedprice, 2) AS best_price,
                   row_number() OVER (PARTITION BY l_partkey
                       ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
            FROM lineitem)
        SELECT l_partkey, l_orderkey, l_linenumber, best_price, p_name
        FROM ranked JOIN part ON l_partkey = p_partkey
        WHERE rn = 1
    """,
    "s9_inverse_index_lookup": """
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders
        JOIN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_partkey = 42) h
          ON o_orderkey = h.l_orderkey
    """,
    "j6_anti_join": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "j7_semi_join": """
        SELECT c_custkey, c_nationkey FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
    "j10_latest_event": """
        WITH ranked AS (
            SELECT user_id, event_id, event_type, round(value, 2) AS value,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
        SELECT user_id, event_id, event_type, value FROM ranked WHERE rn = 1
    """,
    "j2_proximity_pairs": f"""
        WITH pts AS (
            SELECT event_id AS id,
                   (event_id % 2000) * 0.001       AS lat,
                   CAST(((event_id * 7) % 2000) * 0.001 AS DOUBLE)
                     + ((event_id // 100000) % 140) * 2.5 AS lon
            FROM events)
        SELECT DISTINCT a.id AS probe_id, b.id AS match_id,
               round({_AB_DIST}, 3) AS dist_m
        FROM pts a, pts b
        WHERE a.id % 20 = 0 AND a.id <> b.id
          AND round({_AB_DIST}, 3) < 150
    """,
    "j4_fuzzy_name_join": """
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
               a.p_brand AS brand,
               CAST(levenshtein(lower(a.p_name), lower(b.p_name)) AS INTEGER) AS lev
        FROM part a JOIN part b ON a.p_brand = b.p_brand
        WHERE a.p_partkey < b.p_partkey
          AND abs(length(a.p_name) - length(b.p_name)) <= 2
          AND levenshtein(lower(a.p_name), lower(b.p_name)) <= 2
    """,
    "p2_main_element": """
        WITH ranked AS (
            SELECT l_orderkey, l_partkey, l_linenumber,
                   row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY (l_returnflag <> 'N'), l_linenumber,
                                l_returnflag, l_partkey) AS rn
            FROM lineitem)
        SELECT l_orderkey AS o_orderkey, l_partkey AS main_partkey,
               l_linenumber AS main_linenumber
        FROM ranked WHERE rn = 1
    """,
    "e1_snapshot_diff": """
        WITH old AS (
            SELECT o_orderkey, round(o_totalprice, 2) AS v_old
            FROM orders WHERE o_orderkey % 3 <> 0),
        new AS (
            SELECT o_orderkey,
                   round(o_totalprice, 2)
                       + (CASE WHEN o_orderkey % 7 = 0 THEN 1.0 ELSE 0.0 END) AS v_new
            FROM orders WHERE o_orderkey % 5 <> 0)
        SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
               CASE WHEN old.o_orderkey IS NULL THEN 'added'
                    WHEN new.o_orderkey IS NULL THEN 'removed'
                    WHEN v_old <> v_new THEN 'changed'
                    ELSE 'same' END AS change_type,
               v_old, v_new
        FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
        WHERE (CASE WHEN old.o_orderkey IS NULL THEN 'added'
                    WHEN new.o_orderkey IS NULL THEN 'removed'
                    WHEN v_old <> v_new THEN 'changed'
                    ELSE 'same' END) <> 'same'
    """,
    "e3_intersect_keys": """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    "g1_sessionize": """
        WITH gaps AS (
            SELECT user_id, event_id, ts, value,
                   epoch(ts) - epoch(lag(ts) OVER w) AS gap
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        flagged AS (
            SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS flag
            FROM gaps),
        sessions AS (
            SELECT *, sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               count(*) AS n_events, min(event_id) AS first_event,
               round(sum(value), 2) AS session_value
        FROM sessions GROUP BY user_id, session_id
    """,
    "w1_running_total": """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        FROM orders
    """,
    "o1_distance_topk": f"""
        WITH pts AS (
            SELECT event_id,
                   (event_id % 2000) * 0.001       AS lat,
                   ((event_id * 7) % 2000) * 0.001 AS lon
            FROM events)
        SELECT event_id,
               round({_O1_DIST}, 3) AS dist_m
        FROM pts
        ORDER BY dist_m ASC, event_id ASC
        LIMIT 100
    """,
    "d1_date_kit": """
        SELECT o_orderkey,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-12-31')
                   AS INTEGER) AS days_before_cutoff,
               (CAST(o_orderdate AS DATE) >= (DATE '2001-12-31' - INTERVAL 9 MONTH))
                   AS in_9_month_window
        FROM orders
    """,
    "t1_text_kit": f"""
        SELECT p_partkey,
               lower(regexp_replace(p_name, '[ -]', '', 'g')) AS simple_name,
               CAST(len({T.tokenize_words(DUCKDB, 'p_name')}) AS INTEGER)
                   AS n_words,
               upper(substr(replace(p_type, '_', ' '), 1, 1)) ||
                   substr(replace(p_type, '_', ' '), 2) AS display_type,
               p_brand || ',' || p_name AS joined_id
        FROM part
    """,
}


# --------------------------------------------------------------------------
# SQL surface: the SAME ANSI SQL text planned by Catalyst (spark.sql over
# registered temp views) and by DuckDB as its own oracle — the
# "query-generator emits SQL, engine plans it" path (reference: opendb's
# generated OBJECTS queries), proving the engine's SQL front door, not
# just the DataFrame DSL.  Dialect-portable subset: ANSI joins, year(),
# round(), window RANK.  Revenue sums are rounded at 2 like
# q1_pricing_summary so cross-engine summation order can't move the hash.
# --------------------------------------------------------------------------

_SQL_SURFACE = """
    SELECT n_name, yr, revenue, rk FROM (
        SELECT n_name, yr, revenue,
               CAST(RANK() OVER (PARTITION BY yr
                                 ORDER BY revenue DESC, n_name)
                    AS INTEGER) AS rk
        FROM (
            SELECT n.n_name AS n_name,
                   CAST(year(o.o_orderdate) AS INTEGER) AS yr,
                   round(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
                       AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name, year(o.o_orderdate)
        ) rev
    ) ranked WHERE rk <= 5
"""


def sql_surface_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 nations by revenue per order-year, expressed as ONE shared
    SQL string: Spark runs it through ``spark.sql`` over the registered
    views, DuckDB runs the identical text as the oracle.  Catalyst gets
    the same declarative plan a query generator would emit — join
    reordering, partial aggregation, and the rank window all come from
    the optimizer, none hand-scheduled."""
    from ..sources.testdata import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_SURFACE)


QUERIES["sql_surface_report"] = sql_surface_report
ORACLES["sql_surface_report"] = _SQL_SURFACE


def udf_expr_matchid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 custom-function EXTENSION POINT, not just the functions:
    the reference registers ``opr:simple_name`` / ``str:first_not_empty``
    into its ANTLR expression evaluator (OprExprEvaluatorExt.java:13-85)
    and the sync bot evaluates a match-id expression STRING against each
    object (OsmSyncBot.java:452-462).  The Spark analog is registered
    SQL scalar functions (CREATE TEMPORARY FUNCTION ... RETURN expr —
    substituted into the Catalyst expression tree at parse time, JVM
    codegen, NOT a Python UDF) plus ``F.expr`` over the expression text,
    so changing the match-id expression is a config change, exactly as
    in the reference.  The oracle inlines the same semantics through the
    text-kit SQL mirrors."""
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION opr_simple_name(s STRING)
        RETURNS STRING RETURN lower(regexp_replace(s, '[ -]', ''))
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION str_first_not_empty(
            a STRING, b STRING)
        RETURNS STRING RETURN concat(coalesce(split(a, ';')[0], ''),
                                     coalesce(split(b, ';')[0], ''))
    """)
    match_expr = ("concat(opr_simple_name(p_name), ':',"
                  " str_first_not_empty(p_brand, p_type))")
    part = _t(spark, sf_dir, "part")
    return part.select("p_partkey", F.expr(match_expr).alias("match_id"))


QUERIES["udf_expr_matchid"] = udf_expr_matchid
ORACLES["udf_expr_matchid"] = """
    SELECT p_partkey,
           concat(lower(regexp_replace(p_name, '[ -]', '', 'g')), ':',
                  concat(coalesce(string_split(p_brand, ';')[1], ''),
                         coalesce(string_split(p_type, ';')[1], '')))
               AS match_id
    FROM part
"""


def x69_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (X69): the data-quality gate a
    warehouse runs after every load — per FK relationship, child and
    parent cardinalities, ORPHAN children (FK with no parent — pinned
    at zero on this corpus, and the pin is the check) and unreferenced
    parents.  All four counts are anti-join/semi-join aggregates — one
    hash shuffle per side, no row ever leaves as data."""
    def audit(name, child, ckey, parent, pkey):
        c = _t(spark, sf_dir, child).select(F.col(ckey).alias("ck"))
        p = _t(spark, sf_dir, parent).select(F.col(pkey).alias("pk"))
        orphans = c.join(p, c.ck == p.pk, "left_anti")
        unref = p.join(c, p.pk == c.ck, "left_anti")
        return (
            c.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(p.agg(F.count(F.lit(1)).alias("n_parent")))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphan")))
            .crossJoin(unref.agg(
                F.count(F.lit(1)).alias("n_unreferenced")))
            .select(F.lit(name).alias("relationship"),
                    "n_child", "n_parent", "n_orphan", "n_unreferenced"))

    return (audit("lineitem->orders", "lineitem", "l_orderkey",
                  "orders", "o_orderkey")
            .unionByName(audit("orders->customer", "orders", "o_custkey",
                               "customer", "c_custkey"))
            .unionByName(audit("customer->nation", "customer",
                               "c_nationkey", "nation", "n_nationkey")))


QUERIES["x69_ri_audit"] = x69_ri_audit

ORACLES["x69_ri_audit"] = """
    SELECT 'lineitem->orders' AS relationship,
           (SELECT COUNT(*) FROM lineitem) AS n_child,
           (SELECT COUNT(*) FROM orders) AS n_parent,
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
               AS n_orphan,
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
               (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
               AS n_unreferenced
    UNION ALL
    SELECT 'orders->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
           (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
               (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    UNION ALL
    SELECT 'customer->nation',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM nation),
           (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
               (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
           (SELECT COUNT(*) FROM nation n WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey))
"""


def udtf_bigram_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X89: the Python TABLE function surface (§2.12's last box —
    scalar SQL functions, Arrow-batched pandas UDFs, and the DataSource
    connector are already pinned): a ``@udtf`` class registered on the
    session and invoked through SQL ``LATERAL``, expanding each
    document into its word-bigram rows, rolled up per language.

    Honest positioning: UDTF rows cross the Python bridge one at a
    time, so the production path for THIS expansion is the codegen
    explode (``tx_chunk_windows`` / the sk_heavy_hitters token CTE) —
    the query pins the registration/LATERAL/schema plumbing and the
    exact row semantics (empty-word filtering, short-doc behavior)
    against the same oracle the codegen path would satisfy.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, gram string")
    class Bigrams:
        def eval(self, text):
            ws = [w for w in (text or "").split(" ") if w]
            for i in range(len(ws) - 1):
                yield i, ws[i] + " " + ws[i + 1]

    spark.udtf.register("opr_bigrams", Bigrams)
    docs = load_table(spark, "documents", sf_dir)
    docs.createOrReplaceTempView("docs_udtf_src")
    return spark.sql("""
        SELECT d.lang, COUNT(*) AS n_grams,
               COUNT(DISTINCT t.gram) AS n_distinct
        FROM docs_udtf_src d, LATERAL opr_bigrams(d.text) t
        GROUP BY d.lang
    """)


QUERIES["udtf_bigram_expand"] = udtf_bigram_expand

ORACLES["udtf_bigram_expand"] = """
    WITH grams AS (
        SELECT lang,
               unnest(ws[1:len(ws) - 1]) || ' ' || unnest(ws[2:len(ws)])
                   AS gram
        FROM (SELECT lang, list_filter(string_split(text, ' '),
                                       w -> w <> '') AS ws
              FROM documents)
    )
    SELECT lang, COUNT(*) AS n_grams,
           COUNT(DISTINCT gram) AS n_distinct
    FROM grams GROUP BY lang
"""
