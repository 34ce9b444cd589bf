"""Second batch of oracle-backed relational plans.

Scale-path extensions SURVEY.md §2.4 flags as the 100 TB additions the
reference lacks (rollup/cube, JSON kit, percentiles, dedup variants,
monthly windows, top-k per group, set ops, GeoJSON sink) — each entry
states its partition/shuffle shape, and each has a value-exact DuckDB
oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import geo
from ..functions.dialect import DUCKDB
from ..sources.places import flat_snapshots_sql_ctes
from ..sources.testdata import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def a8_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (status, priority): subtotal lattice in one pass — partial
    aggregation handles every grouping set map-side; one shuffle."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def a9_cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the two lineitem flags + quantity stats."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


def p11_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path projection over events.props (the reference's dotted
    path access P6/getFieldByExpr generalized): extract, cast, aggregate.
    get_json_object is JVM-side — no Python in the path."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(k).alias("sum_k"),
             F.max(k).alias("max_k"))
    )


def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight range scan, no join, one scalar — the
    pushdown showcase (filters reach the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
                 & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
                 & F.col("l_discount").between(0.05, 0.07)
                 & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue"),
             F.count(F.lit(1)).alias("n"))
    )


def w2_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag window per user ordered by (ts, event_id): value delta and
    seconds since previous event.  One shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_v = F.lag("value").over(w)
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "user_id", "event_id",
        F.round(F.col("value") - prev_v, 2).alias("value_delta"),
        (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)).alias("gap_s"),
    )


def w4_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W (r6): time-RANGE sliding frame — per event, the count and sum
    of the SAME user's events in the preceding hour (``RANGE BETWEEN
    3600 PRECEDING AND CURRENT ROW`` on epoch seconds), the frame class
    w1-w3 don't cover (ROWS frames need a tiebreak; a RANGE frame is
    SET-determined — every peer of the current second is in, whatever
    the shuffle order).  The measure is floor-quantized BIGINT cents so
    accumulation order can't flip the hash; at 100 TB this is one
    shuffle on user_id and a sorted single pass per partition."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (Window.partitionBy("user_id").orderBy("epoch_s")
         .rangeBetween(-3600, 0))
    return base.select(
        "event_id", "user_id", "epoch_s",
        F.count(F.lit(1)).over(w).alias("n_hour"),
        F.sum("cents").over(w).alias("cents_hour"),
    )


def w5_rank_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W (r7): the full ranking-function surface in one query —
    row_number, rank, dense_rank, ntile(4), percent_rank, cume_dist per
    market segment over a DELIBERATELY tie-heavy key (acctbal bucketed
    to hundreds), because tie semantics are exactly where rank/dense
    /percent_rank/cume_dist differ and where a missing tiebreak becomes
    shuffle-order nondeterminism.

    Two window specs, one shuffle: the tie-aware functions order by the
    band alone (ties land identical ranks — SET-determined, safe); the
    position-dependent functions (row_number, ntile) get the total
    (band, c_custkey) order per the repo tiebreak rule.  percent_rank
    and cume_dist are rational numbers computed by the same
    integer-over-integer divide on both engines — no rounding needed.
    """
    c = _t(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey", F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("band"))
    w_ties = Window.partitionBy("seg").orderBy(F.desc("band"))
    w_total = (Window.partitionBy("seg")
               .orderBy(F.desc("band"), "c_custkey"))
    return base.select(
        "c_custkey", "seg", "band",
        F.row_number().over(w_total).alias("rn"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.ntile(4).over(w_total).alias("quartile"),
        F.percent_rank().over(w_ties).alias("pr"),
        F.cume_dist().over(w_ties).alias("cd"),
    )


def o6_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O (r7): 2-D SKYLINE (Pareto front) — customers not dominated on
    (richer, more senior): keep a row iff no other row is >= on both
    integer dimensions and strictly better on one.  The skyline
    operator [Börzsönyi et al. 2001] the research OLAP engines ship;
    naive evaluation is the O(n²) self-join Catalyst would pick for
    the EXISTS form.

    Plan: collapse to one row per x (partial-agg groupBy computing the
    per-x best y), then "best y among strictly greater x" is a PREFIX
    max over the x-descending total order — computed with the repo's
    two-phase decomposition (`ordered.global_running_prefix_max`:
    range-exchange, per-partition window, broadcast partition offsets),
    NEVER a single-task global window; join the marks back and filter.
    O(n log n), no self-join, no row amplification, and every frame is
    value-determined so shuffle order cannot matter.
    """
    from ..operators.ordered import global_running_prefix_max

    c = _t(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        (-F.col("c_custkey")).alias("sen"))
    groups = base.groupBy("cents").agg(F.max("sen").alias("g_max"))
    marks = global_running_prefix_max(
        groups, "g_max", ["cents"], "best_richer",
        ascending=[False], strict=True)
    return (base.join(marks, on="cents")
            .where((F.col("best_richer").isNull()
                    | (F.col("best_richer") < F.col("sen")))
                   & (F.col("g_max") <= F.col("sen")))
            .select("c_custkey", "cents"))


def a13_agg_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (r7): the modern aggregate-function surface in one rollup —
    ``count_if``, ``bool_and``/``bool_or`` (emitted as ints; top-level
    booleans are avoided by repo convention), and ``min_by``/``max_by``
    with a DETERMINISTIC ordering: the selector is the fused integer
    key ``cents * 10^7 + o_orderkey`` (exact floor-cents, unique
    tiebreak), because ``max_by`` on a raw price picks a
    shuffle-order-dependent row among price ties — the same
    nondeterminism class the CLAUDE.md tiebreak rule bans.  (DuckDB's
    ``arg_max`` can't order by a struct, so the fused key is also what
    keeps the two engines' picks identical.)  One partial-aggregating
    shuffle on the 5-value priority key.
    """
    o = _t(spark, sf_dir, "orders")
    key = (F.floor(F.col("o_totalprice") * 100).cast("long")
           * F.lit(10_000_000) + F.col("o_orderkey"))
    base = o.select("o_orderpriority", "o_custkey", "o_totalprice",
                    "o_orderstatus", key.alias("sel"))
    return (base.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count_if(F.col("o_totalprice") > 150000)
                 .alias("n_big"),
                 F.bool_and(F.col("o_totalprice") > 0).cast("int")
                 .alias("all_pos"),
                 F.bool_or(F.col("o_orderstatus") == "F").cast("int")
                 .alias("any_f"),
                 F.max_by("o_custkey", F.col("sel")).alias("top_cust"),
                 F.min_by("o_custkey", F.col("sel")).alias("low_cust")))


def w3_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per segment (the scale path would
    swap in approx_percentile; exact keeps the oracle comparable)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("p50"),
             F.round(F.percentile("c_acctbal", F.lit(0.9)), 4).alias("p90"),
             F.round(F.percentile("c_acctbal", F.lit(0.99)), 4).alias("p99"))
    )


def o4_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority — row_number with a full
    deterministic tiebreak (price desc, key asc)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey",
                F.round("o_totalprice", 2).alias("o_totalprice"))
    )


def e4_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set ops: customers with no orders (EXCEPT) tagged
    'never' and customers with >5 orders tagged 'frequent' — one
    union-all result.  Anti-join form keeps it a hash join at scale."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders")
    never = (c.exceptAll(o.select(F.col("o_custkey").alias("c_custkey"))
                         .distinct())
             .select("c_custkey", F.lit("never").alias("tag")))
    frequent = (o.groupBy("o_custkey").count().where(F.col("count") > 5)
                .select(F.col("o_custkey").alias("c_custkey"),
                        F.lit("frequent").alias("tag")))
    return never.unionByName(frequent)


def a10_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array HOF kit (A2/A3 analogs): per order, the collected quantity
    array is reduced with aggregate() and filtered with filter() —
    exercises the collect → higher-order-function path used by the image
    counters."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.collect_list("l_quantity").alias("qtys"))
    total = F.aggregate("qtys", F.lit(0.0), lambda a, x: a + x)
    big = F.size(F.filter("qtys", lambda x: x >= 25))
    return per_order.select(
        "l_orderkey",
        F.round(total, 2).alias("total_qty"),
        big.cast("long").alias("n_big"),
        F.size("qtys").cast("long").alias("n_lines"),
    )


def d2_monthly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly window generation (MergePlaceBot.java:54,115-121: 9
    monthly windows back from a date) joined against order counts."""
    o = _t(spark, sf_dir, "orders")
    months = spark.range(1).select(
        F.explode(F.sequence(
            F.lit(0), F.lit(8))).alias("i")).select(
        F.add_months(F.lit("1996-01-01").cast("date"), -F.col("i") * 1)
        .alias("month_start"))
    per_month = o.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"))
    counts = per_month.groupBy("month_start").count()
    return (
        months.join(counts, on="month_start", how="left")
        .select("month_start",
                F.coalesce("count", F.lit(0)).alias("n_orders"))
    )


def a7_first_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-batch dedup both ways (A7: the reference keeps first-wins and
    last-wins at different call sites): per user, the first and last
    event id by (ts, event_id)."""
    ev = _t(spark, sf_dir, "events")
    asc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rk_first", F.row_number().over(asc))
        .withColumn("rk_last", F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.desc("ts"), F.desc("event_id"))))
        .where((F.col("rk_first") == 1) | (F.col("rk_last") == 1))
        .groupBy("user_id")
        .agg(F.min(F.when(F.col("rk_first") == 1, F.col("event_id")))
             .alias("first_event"),
             F.min(F.when(F.col("rk_last") == 1, F.col("event_id")))
             .alias("last_event"))
    )


def s13_geojson_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON sink projection (S13): printf-formatted Point features —
    formatting pinned to %.4f so any engine emits identical strings."""
    from ..sources import places as P

    pl = P.synthetic_active_flat(spark, sf_dir)
    return pl.select(
        "id",
        F.format_string(
            '{"type":"Feature","geometry":{"type":"Point",'
            '"coordinates":[%.4f,%.4f]},"properties":{"name":"%s"}}',
            F.col("lon"), F.col("lat"), F.col("name")).alias("feature"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "a8_rollup_status_priority": a8_rollup_status_priority,
    "a9_cube_flags": a9_cube_flags,
    "p11_json_extraction": p11_json_extraction,
    "q6_revenue_delta": q6_revenue_delta,
    "w2_event_deltas": w2_event_deltas,
    "w3_percentiles": w3_percentiles,
    "w4_range_frame": w4_range_frame,
    "w5_rank_kit": w5_rank_kit,
    "a13_agg_kit": a13_agg_kit,
    "o6_skyline": o6_skyline,
    "o4_topk_per_group": o4_topk_per_group,
    "e4_set_ops": e4_set_ops,
    "a10_array_hof": a10_array_hof,
    "d2_monthly_windows": d2_monthly_windows,
    "a7_first_last_wins": a7_first_last_wins,
    "s13_geojson_features": s13_geojson_features,
}


ORACLES: dict[str, str] = {
    "a8_rollup_status_priority": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               round(SUM(o_totalprice), 2) AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "a9_cube_flags": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               round(SUM(l_quantity), 2) AS qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "p11_json_extraction": """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type
    """,
    "q6_revenue_delta": """
        SELECT round(SUM(l_extendedprice * l_discount), 2) AS revenue,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "w2_event_deltas": """
        SELECT user_id, event_id,
               round(value - LAG(value) OVER w, 2) AS value_delta,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) AS gap_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    # the oracle is the EXISTS/anti-join dominance definition itself —
    # an independent formulation, so equality proves the prefix-max
    # decomposition implements true Pareto dominance
    "o6_skyline": """
        WITH pts AS (
            SELECT c_custkey,
                   CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
                   -c_custkey AS sen
            FROM customer
        )
        SELECT a.c_custkey, a.cents
        FROM pts a
        WHERE NOT EXISTS (
            SELECT 1 FROM pts b
            WHERE b.cents >= a.cents AND b.sen >= a.sen
              AND (b.cents > a.cents OR b.sen > a.sen)
        )
    """,
    "a13_agg_kit": """
        WITH base AS (
            SELECT o_orderpriority, o_custkey, o_totalprice,
                   o_orderstatus,
                   CAST(floor(o_totalprice * 100) AS BIGINT) * 10000000
                       + o_orderkey AS sel
            FROM orders
        )
        SELECT o_orderpriority, COUNT(*) AS n,
               COUNT(*) FILTER (o_totalprice > 150000) AS n_big,
               CAST(bool_and(o_totalprice > 0) AS INT) AS all_pos,
               CAST(bool_or(o_orderstatus = 'F') AS INT) AS any_f,
               arg_max(o_custkey, sel) AS top_cust,
               arg_min(o_custkey, sel) AS low_cust
        FROM base GROUP BY o_orderpriority
    """,
    "w5_rank_kit": """
        WITH base AS (
            SELECT c_custkey, c_mktsegment AS seg,
                   CAST(floor(c_acctbal / 100) AS BIGINT) AS band
            FROM customer
        )
        SELECT c_custkey, seg, band,
               row_number() OVER w_total AS rn,
               rank() OVER w_ties AS rnk,
               dense_rank() OVER w_ties AS drnk,
               ntile(4) OVER w_total AS quartile,
               percent_rank() OVER w_ties AS pr,
               cume_dist() OVER w_ties AS cd
        FROM base
        WINDOW w_ties AS (PARTITION BY seg ORDER BY band DESC),
               w_total AS (PARTITION BY seg
                           ORDER BY band DESC, c_custkey)
    """,
    "w4_range_frame": """
        WITH e AS (
            SELECT event_id, user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
                   CAST(floor(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT event_id, user_id, epoch_s,
               COUNT(*) OVER w AS n_hour,
               CAST(SUM(cents) OVER w AS BIGINT) AS cents_hour
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    "w3_percentiles": """
        SELECT c_mktsegment,
               round(quantile_cont(c_acctbal, 0.5), 4) AS p50,
               round(quantile_cont(c_acctbal, 0.9), 4) AS p90,
               round(quantile_cont(c_acctbal, 0.99), 4) AS p99
        FROM customer GROUP BY c_mktsegment
    """,
    "o4_topk_per_group": """
        SELECT o_orderpriority, rk, o_orderkey,
               round(o_totalprice, 2) AS o_totalprice
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
            FROM orders
        ) WHERE rk <= 3
    """,
    "e4_set_ops": """
        SELECT c_custkey, 'never' AS tag FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        UNION ALL
        SELECT o_custkey AS c_custkey, 'frequent' AS tag
        FROM orders GROUP BY o_custkey HAVING COUNT(*) > 5
    """,
    "a10_array_hof": """
        SELECT l_orderkey,
               round(SUM(l_quantity), 2) AS total_qty,
               CAST(COUNT(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_big,
               COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey
    """,
    "d2_monthly_windows": """
        WITH months AS (
            SELECT CAST(DATE '1996-01-01' - TO_MONTHS(CAST(i AS INTEGER)) AS DATE)
                   AS month_start
            FROM generate_series(0, 8) t(i)
        ),
        counts AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
                   COUNT(*) AS n
            FROM orders GROUP BY 1
        )
        SELECT m.month_start, COALESCE(c.n, 0) AS n_orders
        FROM months m LEFT JOIN counts c USING (month_start)
    """,
    "a7_first_last_wins": """
        SELECT user_id,
               MIN(CASE WHEN rk_first = 1 THEN event_id END) AS first_event,
               MIN(CASE WHEN rk_last = 1 THEN event_id END) AS last_event
        FROM (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rk_first,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rk_last
            FROM events
        )
        WHERE rk_first = 1 OR rk_last = 1
        GROUP BY user_id
    """,
    "s13_geojson_features": f"""
        WITH {flat_snapshots_sql_ctes()}
        SELECT id,
               printf('{{"type":"Feature","geometry":{{"type":"Point",'
                      '"coordinates":[%.4f,%.4f]}},"properties":{{"name":"%s"}}}}',
                      lon, lat, name) AS feature
        FROM active
    """,
}


def s15_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 MERGE semantics via operators.upsert.merge_upsert: odd-key
    customers get updated balances/segments, 100 synthetic keys append,
    every 17th key is deleted."""
    from ..operators.upsert import merge_upsert

    c = _t(spark, sf_dir, "customer")
    target = c.select("c_custkey", "c_acctbal", "c_mktsegment")
    updates = (
        c.where(F.col("c_custkey") % 2 == 1)
        .select("c_custkey",
                F.round(F.col("c_acctbal") * 2, 2).alias("c_acctbal"),
                F.lit("UPDATED").alias("c_mktsegment"))
        .unionByName(
            c.where(F.col("c_custkey") < 100).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
                F.lit("NEW").alias("c_mktsegment")))
    )
    deletes = c.where(F.col("c_custkey") % 17 == 0).select("c_custkey")
    merged = merge_upsert(target, updates, key="c_custkey", deletes=deletes)
    return merged.select("c_custkey",
                         F.round("c_acctbal", 2).alias("c_acctbal"),
                         "c_mktsegment")


def e2_config_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 sync-config delta: configured request keys vs persisted state
    → new / existing / removed."""
    from ..operators.upsert import config_delta

    ev = _t(spark, sf_dir, "events")
    config = ev.select("event_type").distinct()
    state = (ev.where(F.col("event_type") != "error")
             .select("event_type").distinct()
             .unionByName(spark.createDataFrame([("legacy",)],
                                                "event_type string")))
    return config_delta(config, state, ["event_type"])


QUERIES["s15_merge_upsert"] = s15_merge_upsert
QUERIES["e2_config_delta"] = e2_config_delta

ORACLES["s15_merge_upsert"] = """
    WITH upd AS (
        SELECT c_custkey, round(c_acctbal * 2, 2) AS c_acctbal,
               'UPDATED' AS c_mktsegment
        FROM customer WHERE c_custkey % 2 = 1
        UNION ALL
        SELECT c_custkey + 1000000, 0.0, 'NEW'
        FROM customer WHERE c_custkey < 100
    ),
    merged AS (
        SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
               CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
                    ELSE t.c_acctbal END AS c_acctbal,
               CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
                    ELSE t.c_mktsegment END AS c_mktsegment
        FROM customer t FULL OUTER JOIN upd u USING (c_custkey)
    )
    SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal, c_mktsegment
    FROM merged
    WHERE c_custkey NOT IN (SELECT c_custkey FROM customer
                            WHERE c_custkey % 17 = 0)
"""

ORACLES["e2_config_delta"] = """
    WITH config AS (SELECT DISTINCT event_type FROM events),
    state AS (
        SELECT DISTINCT event_type FROM events WHERE event_type != 'error'
        UNION ALL SELECT 'legacy'
    )
    SELECT COALESCE(c.event_type, s.event_type) AS event_type,
           CASE WHEN s.event_type IS NULL THEN 'new'
                WHEN c.event_type IS NULL THEN 'removed'
                ELSE 'existing' END AS status
    FROM config c FULL OUTER JOIN state s ON c.event_type = s.event_type
"""


def _ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic ways: one per order, vertices from its lineitems in
    linenumber order (closed-form coords; duplicate (order, line) rows
    deduped by max — the synthetic data has them)."""
    li = (_t(spark, sf_dir, "lineitem")
          .groupBy("l_orderkey", "l_linenumber")
          .agg(F.max("l_partkey").alias("pk"),
               F.max("l_suppkey").alias("sk")))
    pt = F.struct(((F.col("pk") % 1000) / 100.0).alias("lat"),
                  ((F.col("sk") % 1000) / 100.0).alias("lon"))
    return (
        li.select(F.col("l_orderkey").alias("way_id"),
                  F.struct(F.col("l_linenumber").alias("n"), pt.alias("p"))
                  .alias("v"))
        .groupBy("way_id")
        .agg(F.transform(F.array_sort(F.collect_list("v")),
                         lambda x: x["p"]).alias("coords"))
    )


def g5_way_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry kernels over synthetic ways: open-line center with
    getWeightCenterForWay parity — vertex mean snapped to the nearest
    node by reference-constant haversine (OsmMapUtils.java:244-256) —
    plus vertex count.  Area/winding and the closed-ring branch are
    pinned by unit goldens (FP summation order of the shoelace is
    kernel-specific).  ``mean_round=9`` pins the snap decision across
    engines (sub-0.1 mm perturbation)."""
    from ..functions import geometry as GM

    ways = _ways(spark, sf_dir)
    # exclude closed rings: their centroid takes the weighted-center
    # branch, whose FP summation order is kernel-specific (unit-tested)
    open_ways = ways.where(
        (F.size("coords") <= 3)
        | (F.element_at("coords", 1) != F.element_at("coords", -1)))
    # n_vertices comes out of the kernel (r14): the pre-r14 shape
    # joined a size() projection of open_ways back onto the kernel
    # output, executing the scan+groupBy upstream twice and paying a
    # way_id join for a count the kernel already holds
    stats = GM.way_stats(open_ways, mean_round=9)
    return stats.select(
        "way_id", "n_vertices",
        F.round("centroid_lat", 6).alias("centroid_lat"),
        F.round("centroid_lon", 6).alias("centroid_lon"))


QUERIES["g5_way_stats"] = g5_way_stats

_G5_DIST = geo.haversine_m(DUCKDB, "d.lat", "d.lon", "m.mlat", "m.mlon")

ORACLES["g5_way_stats"] = f"""
    WITH dedup AS (
        SELECT l_orderkey, l_linenumber,
               ((MAX(l_partkey) % 1000) / CAST(100.0 AS DOUBLE)) AS lat,
               ((MAX(l_suppkey) % 1000) / CAST(100.0 AS DOUBLE)) AS lon
        FROM lineitem GROUP BY l_orderkey, l_linenumber
    ),
    open_ways AS (
        SELECT l_orderkey, COUNT(*) AS n,
               round(AVG(lat), 9) AS mlat, round(AVG(lon), 9) AS mlon
        FROM dedup GROUP BY l_orderkey
        HAVING COUNT(*) <= 3
            OR NOT (arg_min(lat, l_linenumber) = arg_max(lat, l_linenumber)
                    AND arg_min(lon, l_linenumber) = arg_max(lon, l_linenumber))
    ),
    snapped AS (
        SELECT d.l_orderkey, m.n, d.lat, d.lon,
               ROW_NUMBER() OVER (
                   PARTITION BY d.l_orderkey
                   ORDER BY {_G5_DIST}, d.l_linenumber) AS rk
        FROM dedup d JOIN open_ways m ON m.l_orderkey = d.l_orderkey
    )
    SELECT l_orderkey AS way_id, CAST(n AS INTEGER) AS n_vertices,
           round(lat, 6) AS centroid_lat,
           round(lon, 6) AS centroid_lon
    FROM snapped WHERE rk = 1
"""


def g4_simplify_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker over the synthetic ways.  epsilon 0.5° on
    0-10° coords → real reduction on most ways.

    Value-hash-checked against a RECURSIVE-CTE DuckDB oracle that
    replays the exact split structure: same clamped-projection
    arithmetic (explicit sqrt(dx²+dy²), same operation order as the
    Python kernel), same strict ``> ε`` threshold, same
    max-distance / lowest-index argmax tiebreak.  The kernel is also
    pinned by geometry unit goldens."""
    from ..functions import geometry as GM

    ways = _ways(spark, sf_dir)
    # with_coords=False: this query keeps only the counts, and column
    # pruning cannot reach inside the kernel — without it every
    # simplified way's points are dict-built and Arrow-shipped back
    # just to be discarded (r14)
    return (GM.simplify_ways(ways, epsilon_deg=0.5, with_coords=False)
            .select("way_id", "n_in", "n_out"))


QUERIES["g4_simplify_ways"] = g4_simplify_ways

# Correlated segment-endpoint frame (lo/hi coords of seg ``s``) used
# twice inside the recursive term below.
_G4_AB = """
                    SELECT pa.lon AS ax, pa.lat AS ay,
                           pb.lon - pa.lon AS abx, pb.lat - pa.lat AS aby,
                           (pb.lon - pa.lon) * (pb.lon - pa.lon)
                           + (pb.lat - pa.lat) * (pb.lat - pa.lat) AS denom
                    FROM pts pa, pts pb
                    WHERE pa.way_id = s.way_id AND pa.i = s.lo
                      AND pb.way_id = s.way_id AND pb.i = s.hi
"""

ORACLES["g4_simplify_ways"] = f"""
    WITH RECURSIVE
    dedup AS (
        SELECT l_orderkey, l_linenumber,
               ((MAX(l_partkey) % 1000) / CAST(100.0 AS DOUBLE)) AS lat,
               ((MAX(l_suppkey) % 1000) / CAST(100.0 AS DOUBLE)) AS lon
        FROM lineitem GROUP BY l_orderkey, l_linenumber
    ),
    pts AS (
        SELECT l_orderkey AS way_id,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber) - 1 AS i,
               lat, lon
        FROM dedup
    ),
    sz AS (SELECT way_id, COUNT(*) AS n FROM pts GROUP BY 1),
    -- one row per Douglas-Peucker recursion interval; every lo/hi that
    -- ever appears is a kept vertex
    segs(way_id, lo, hi) AS (
        SELECT way_id, CAST(0 AS BIGINT), n - 1 FROM sz WHERE n >= 3
      UNION ALL
        SELECT s.way_id, u.lo2, u.hi2
        FROM segs s, LATERAL (
            SELECT q2.i FROM (
                SELECT q.i, sqrt(q.dx * q.dx + q.dy * q.dy) AS d FROM (
                    SELECT p.i,
                           p.lon - (ab.ax + p.tt * ab.abx) AS dx,
                           p.lat - (ab.ay + p.tt * ab.aby) AS dy
                    FROM (
                        SELECT p0.i, p0.lat, p0.lon,
                               CASE WHEN ab0.denom = 0 THEN 0.0
                                    ELSE GREATEST(0.0, LEAST(1.0,
                                         ((p0.lon - ab0.ax) * ab0.abx
                                          + (p0.lat - ab0.ay) * ab0.aby)
                                         / ab0.denom))
                               END AS tt
                        FROM pts p0, ({_G4_AB}) ab0
                        WHERE p0.way_id = s.way_id
                          AND p0.i > s.lo AND p0.i < s.hi
                    ) p, ({_G4_AB}) ab
                ) q
            ) q2
            WHERE q2.d > 0.5
            ORDER BY q2.d DESC, q2.i ASC
            LIMIT 1
        ) b, LATERAL (VALUES (s.lo, b.i), (b.i, s.hi)) u(lo2, hi2)
        WHERE s.hi - s.lo >= 2
    ),
    kept AS (
        SELECT DISTINCT way_id, i FROM (
            SELECT way_id, lo AS i FROM segs
            UNION ALL
            SELECT way_id, hi AS i FROM segs
        )
    ),
    out3 AS (SELECT way_id, COUNT(*) AS n_out FROM kept GROUP BY 1)
    SELECT sz.way_id AS way_id, CAST(sz.n AS INTEGER) AS n_in,
           CAST(COALESCE(out3.n_out, sz.n) AS INTEGER) AS n_out
    FROM sz LEFT JOIN out3 USING (way_id)
"""


def o5_orthogonal_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped point-to-segment distance (geometry kit, column form) for
    every place against a fixed segment; top-100 nearest."""
    from ..functions import geometry as GM
    from ..sources import places as P

    pl = P.synthetic_active_flat(spark, sf_dir)
    d = GM.orthogonal_distance_deg(
        F.col("lon"), F.col("lat"),
        F.lit(-10.0), F.lit(-10.0), F.lit(10.0), F.lit(10.0))
    return (
        pl.select("id", F.round(d, 6).alias("dist_deg"))
        .orderBy("dist_deg", "id").limit(100)
    )


def g6_points_in_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ray-casting kernel vs analytic geometry: places inside a fixed
    triangle, computed with the Python ray-casting UDF on the Spark side
    and three half-plane sign tests in the oracle — agreement proves the
    kernel against an independent formulation."""
    from ..functions import geometry as GM
    from ..sources import places as P

    tri = [(0.0, 0.0), (40.0, 20.0), (10.0, 45.0)]  # (lat, lon)
    pl = P.synthetic_active_flat(spark, sf_dir).select("id", "lat", "lon")
    return GM.points_in_polygon(pl, tri).select("id")


QUERIES["o5_orthogonal_distance"] = o5_orthogonal_distance
QUERIES["g6_points_in_triangle"] = g6_points_in_triangle


ORACLES["o5_orthogonal_distance"] = f"""
    WITH {flat_snapshots_sql_ctes()},
    proj AS (
        SELECT id,
               greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
                   ((lon + 10.0) * 20.0 + (lat + 10.0) * 20.0)
                   / CAST(800.0 AS DOUBLE))) AS t,
               lon, lat
        FROM active
    )
    SELECT id,
           round(sqrt(power(lon - (-10.0 + t * 20.0), 2)
                      + power(lat - (-10.0 + t * 20.0), 2)), 6) AS dist_deg
    FROM proj
    ORDER BY dist_deg, id LIMIT 100
"""

# half-plane sign tests for the triangle (0,0)-(40,20)-(10,45) in
# (lat, lon) — clockwise in (x=lon, y=lat), so interior crosses are
# all negative
ORACLES["g6_points_in_triangle"] = f"""
    WITH {flat_snapshots_sql_ctes()}
    SELECT id FROM active
    WHERE ((20.0 - 0.0) * (lat - 0.0) - (40.0 - 0.0) * (lon - 0.0)) < 0
      AND ((45.0 - 20.0) * (lat - 40.0) - (10.0 - 40.0) * (lon - 20.0)) < 0
      AND ((0.0 - 45.0) * (lat - 10.0) - (0.0 - 10.0) * (lon - 45.0)) < 0
"""


def d3_aligned_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sync-timestamp alignment (OsmSyncBot.java:103-107,223-238): shift
    3 minutes back for source lag, floor to the 15-minute grid — then
    count events per aligned bucket (the incremental-sync window key).

    The bucket is emitted as BIGINT epoch seconds — the repo-wide
    window-oracle convention (w2/g1) — because DuckDB ``to_timestamp``
    is TIMESTAMPTZ while Spark's is naive, a driver schema/hash FAIL
    that the r4 local parity suite was blind to (``_type_class`` now
    distinguishes tz-ness)."""
    ev = _t(spark, sf_dir, "events")
    aligned = (F.floor((F.unix_timestamp("ts") - 180) / 900) * 900
               ).cast("long")
    return (
        ev.groupBy(aligned.alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
    )


QUERIES["d3_aligned_windows"] = d3_aligned_windows

ORACLES["d3_aligned_windows"] = """
    SELECT CAST(floor((floor(epoch(ts)) - 180) / 900) * 900
                AS BIGINT) AS window_start,
           COUNT(*) AS n,
           round(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1
"""


def d4_lenient_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient tombstone-timestamp parse (MergePlaceBot.java:52
    ``yyyy-MM-dd'T'HH:mm:ss.[SSSZ][SSSSZ]``, getDeletedDate :267-278):
    the deleted field carries 3- OR 4-digit fractional seconds, parsed
    by a try-each-format cascade; the bot then flags places deleted
    >= 10 days before today (wasDeletedMoreThanDaysAgo :280-288,
    DAYS_TO_TRY_PERMANENTLY_CLOSED).  Today is an injected literal
    (2024-01-21, mid-corpus) per the determinism rule; the date is
    derived from epoch-day arithmetic so no engine-local timezone can
    leak into the comparison (the wire offset is always +0000)."""
    ev = _t(spark, sf_dir, "events")
    base = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    wire = F.concat(base, F.when(F.col("event_id") % 2 == 0,
                                 F.lit(".123+0000"))
                    .otherwise(F.lit(".1234+0000")))
    parsed = F.coalesce(
        F.try_to_timestamp(wire, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSZ")),
        F.try_to_timestamp(wire, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSZ")))
    epoch = F.unix_timestamp(parsed)
    deleted_date = F.date_add(F.lit("1970-01-01").cast("date"),
                              F.floor(epoch / 86400).cast("int"))
    today = F.lit("2024-01-21").cast("date")
    return ev.select(
        "event_id",
        epoch.alias("deleted_epoch"),
        deleted_date.alias("deleted_date"),
        (F.datediff(today, deleted_date) >= 10).alias("closed_permanently"),
    )


QUERIES["d4_lenient_timestamps"] = d4_lenient_timestamps

# %g = exactly-3-digit millis (the SSSZ arm), %f = microseconds (catches
# the 4-digit arm); epoch-seconds flooring makes the fraction moot, so
# the cascade shape — not fraction width — is what parity asserts
ORACLES["d4_lenient_timestamps"] = """
    WITH wire AS (
        SELECT event_id,
               strftime(ts, '%Y-%m-%dT%H:%M:%S') ||
               CASE WHEN event_id % 2 = 0 THEN '.123+0000'
                    ELSE '.1234+0000' END AS s
        FROM events),
    parsed AS (
        SELECT event_id,
               CAST(floor(epoch(COALESCE(
                   try_strptime(s, '%Y-%m-%dT%H:%M:%S.%g%z'),
                   try_strptime(s, '%Y-%m-%dT%H:%M:%S.%f%z'))))
               AS BIGINT) AS deleted_epoch
        FROM wire)
    SELECT event_id, deleted_epoch,
           DATE '1970-01-01'
               + CAST(floor(deleted_epoch / 86400.0) AS INTEGER)
               AS deleted_date,
           (datediff('day',
                     DATE '1970-01-01'
                       + CAST(floor(deleted_epoch / 86400.0) AS INTEGER),
                     DATE '2024-01-21') >= 10) AS closed_permanently
    FROM parsed
"""


def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of conjunctive (brand × container ×
    quantity-range) predicates across a join.  The point is optimizer
    behavior: Catalyst extracts the common `p_partkey = l_partkey`
    conjunct, pushes the part-side disjuncts below the join, and the
    parquet scan reports PushedFilters for the Or tree — verified by
    the executedPlan assertion in tests/test_skew.py's sibling audit.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    case1 = ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
             & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11))
    case2 = ((F.col("p_brand") == "Brand#2")
             & (F.col("p_size") >= 11) & (F.col("p_size") <= 25)
             & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
    case3 = ((F.col("p_brand") == "Brand#3") & (F.col("p_size") >= 26)
             & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30))
    return (
        j.where(case1 | case2 | case3)
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2)
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


QUERIES["q19_disjunctive_filter"] = q19_disjunctive_filter

ORACLES["q19_disjunctive_filter"] = """
    SELECT round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size <= 10
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size >= 26
           AND l_quantity BETWEEN 20 AND 30)
"""


def q16_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per (brand, type,
    size) after an anti-ish exclusion — the distinct aggregate is the
    two-level shuffle (partial distinct per partition, exact merge)
    that replaces the reference's in-memory TreeSet counting."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    out = (
        j.where(~F.col("p_type").startswith("MEDIUM POLISHED"))
        .groupBy("p_brand", F.col("p_size"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .where(F.col("supplier_cnt") >= 2)
    )
    return out.select("p_brand", "p_size", "supplier_cnt")


QUERIES["q16_distinct_count"] = q16_distinct_count

ORACLES["q16_distinct_count"] = """
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE NOT starts_with(p_type, 'MEDIUM POLISHED')
    GROUP BY p_brand, p_size
    HAVING COUNT(DISTINCT l_suppkey) >= 2
"""


def g10_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56 spatial JOIN (points × polygons — g6 generalized from one
    fixed triangle to a polygon TABLE): every live place inside any of
    25 synthetic triangles derived arithmetically from the nation keys.

    Plan: each polygon explodes the ≤4 grid cells its bbox covers
    (cell size ≥ max bbox extent by construction), each point computes
    its single cell, and the candidate join is a pure (cy, cx)
    equi-join — never a cross join — followed by the exact half-plane
    sign test as COLUMN arithmetic (pure IEEE multiply/subtract,
    engine-identical; no UDF, stays in codegen).  The ORACLE is the
    brute-force cross join with the same predicate, so hash equality
    proves the grid blocking loses no containment pair (the
    j3/j13 pattern).  At 100 TB the points side shuffles once on the
    cell key and polygons are a broadcast-scale dimension.
    """
    from ..sources import places as P

    G = 30.0  # cell size, >= max bbox extent (1.5 * s_max = 30.0)
    nat = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    clat = ((k * 7 % 140).cast("double") - 70.0 + 0.5)
    clon = ((k * 37 % 340).cast("double") - 170.0 + 0.5)
    s = (k % 3).cast("double") * 5.0 + 10.0
    tri = nat.select(
        "n_nationkey",
        clat.alias("alat"), clon.alias("alon"),
        (clat + s).alias("blat"), (clon + s * 0.5).alias("blon"),
        (clat - s * 0.5).alias("clat2"), (clon + s).alias("clon2"),
    )
    cells = (tri
             .withColumn("cy", F.explode(F.sequence(
                 F.floor((F.least("alat", "blat", "clat2") + 90.0) / G),
                 F.floor((F.greatest("alat", "blat", "clat2") + 90.0) / G))))
             .withColumn("cx", F.explode(F.sequence(
                 F.floor((F.least("alon", "blon", "clon2") + 180.0) / G),
                 F.floor((F.greatest("alon", "blon", "clon2") + 180.0) / G)))))
    pts = P.synthetic_active_flat(spark, sf_dir).select(
        "id", "lat", "lon",
        F.floor((F.col("lat") + 90.0) / G).alias("cy"),
        F.floor((F.col("lon") + 180.0) / G).alias("cx"))

    def cross(x1, y1, x2, y2, px, py):
        return ((F.col(x2) - F.col(x1)) * (F.col(py) - F.col(y1))
                - (F.col(y2) - F.col(y1)) * (F.col(px) - F.col(x1)))

    d1 = cross("alat", "alon", "blat", "blon", "lat", "lon")
    d2 = cross("blat", "blon", "clat2", "clon2", "lat", "lon")
    d3 = cross("clat2", "clon2", "alat", "alon", "lat", "lon")
    has_neg = (d1 < 0) | (d2 < 0) | (d3 < 0)
    has_pos = (d1 > 0) | (d2 > 0) | (d3 > 0)
    return (pts.join(cells, ["cy", "cx"])
            .where(~(has_neg & has_pos))
            .select("id", "n_nationkey")
            .dropDuplicates(["id", "n_nationkey"]))


QUERIES["g10_spatial_join"] = g10_spatial_join

# brute-force cross join with the identical half-plane predicate —
# hash equality proves the grid blocking loses no containment pair.
# Every fractional literal is CAST AS DOUBLE (DuckDB decimal-literal
# trap).
ORACLES["g10_spatial_join"] = f"""
    WITH {{FLAT}},
    tri AS (
        SELECT n_nationkey,
               CAST((n_nationkey * 7) % 140 AS DOUBLE)
                   - CAST(70.0 AS DOUBLE) + CAST(0.5 AS DOUBLE) AS alat,
               CAST((n_nationkey * 37) % 340 AS DOUBLE)
                   - CAST(170.0 AS DOUBLE) + CAST(0.5 AS DOUBLE) AS alon,
               CAST((n_nationkey % 3) * 5 + 10 AS DOUBLE) AS s
        FROM nation
    ), tri2 AS (
        SELECT n_nationkey, alat, alon,
               alat + s AS blat, alon + s * CAST(0.5 AS DOUBLE) AS blon,
               alat - s * CAST(0.5 AS DOUBLE) AS clat2, alon + s AS clon2
        FROM tri
    )
    SELECT p.id, t.n_nationkey
    FROM active p, tri2 t
    WHERE NOT (
        (((t.blat - t.alat) * (p.lon - t.alon)
          - (t.blon - t.alon) * (p.lat - t.alat)) < 0
         OR ((t.clat2 - t.blat) * (p.lon - t.blon)
             - (t.clon2 - t.blon) * (p.lat - t.blat)) < 0
         OR ((t.alat - t.clat2) * (p.lon - t.clon2)
             - (t.alon - t.clon2) * (p.lat - t.clat2)) < 0)
        AND
        (((t.blat - t.alat) * (p.lon - t.alon)
          - (t.blon - t.alon) * (p.lat - t.alat)) > 0
         OR ((t.clat2 - t.blat) * (p.lon - t.blon)
             - (t.clon2 - t.blon) * (p.lat - t.blat)) > 0
         OR ((t.alat - t.clat2) * (p.lon - t.clon2)
             - (t.alon - t.clon2) * (p.lat - t.clat2)) > 0)
    )
""".replace("{FLAT}", flat_snapshots_sql_ctes())


# ---------------------------------------------------------------------------
# X64 — bloom-filter runtime join pruning
# ---------------------------------------------------------------------------

#: bloom geometry: 65536 bits as 2048 32-bit words (shifts stay < 32,
#: since DuckDB's signed BIGINT << overflows at bit 63), 3 hashes —
#: an 8 KB broadcast sized so the ~15k-key build side at sf0.1 keeps
#: the false-positive rate low; production sizes m from the build count
_BLOOM_BITS = 65536
_BLOOM_HASHES = 3


def _bloom_pos(i: int, key):
    """md5-derived bit position i for ``key`` — engine-exact (the
    oracle repeats the identical hex arithmetic)."""
    h = F.md5(F.concat(F.lit(f"b{i}:"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % _BLOOM_BITS)


def x64_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime join pruning (X64): the distributed-join
    optimization where the SMALL side's keys compress into a bit array
    that pre-filters the FACT side before any shuffle — Spark's own
    runtime row-group filters, built here explicitly from md5
    arithmetic so the driver hash can certify the mechanics.

    Build: BUILDING-segment customer keys → 3 md5 bit positions each →
    ``bit_or`` partial-agg into 16 bloom words (a 1-row, 16-word
    relation — broadcast).  Probe: every order tests its 3 bits with
    pure column arithmetic; survivors carry ``bloom_pass``.  Output is
    the per-orderstatus effectiveness report with the structural
    invariants as columns: ``n_false_neg`` (true matches the bloom
    rejected) is PINNED AT ZERO — a bloom has no false negatives by
    construction, and the oracle recomputes every counter including
    the false-positive count from the same bit arithmetic.

    At 100 TB this is the shape that matters: the fact side is
    filtered by ~16 words of broadcast state BEFORE the join shuffle,
    so the exchange carries only bloom survivors (true matches + the
    measured false-positive tail) instead of every row."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    build = cust.where(F.col("c_mktsegment") == "BUILDING") \
        .select(F.col("c_custkey").alias("bk"))
    masks = None
    for i in range(_BLOOM_HASHES):
        # PySpark's shiftleft wrapper only takes a literal bit count —
        # materialize pos and shift via the SQL form, which accepts
        # column expressions
        m = (build.select(_bloom_pos(i, F.col("bk")).alias("pos"))
             .select(F.expr("pos div 32").alias("widx"),
                     F.expr("shiftleft(CAST(1 AS BIGINT), "
                            "CAST(pos % 32 AS INT))").alias("mask")))
        masks = m if masks is None else masks.unionByName(m)
    words = masks.groupBy("widx").agg(F.bit_or("mask").alias("word"))
    bloom = words.agg(F.map_from_entries(
        F.collect_list(F.struct("widx", "word"))).alias("bw"))

    probe = orders.crossJoin(F.broadcast(bloom))
    for i in range(_BLOOM_HASHES):
        probe = probe.withColumn(
            f"_p{i}", _bloom_pos(i, F.col("o_custkey")))
    hits = [
        F.expr(f"shiftright(coalesce(bw[_p{i} div 32], CAST(0 AS "
               f"BIGINT)), CAST(_p{i} % 32 AS INT)) & 1 = 1")
        for i in range(_BLOOM_HASHES)]
    passes = hits[0]
    for h in hits[1:]:
        passes = passes & h
    flagged = (probe.withColumn("bloom_pass", passes)
               .drop(*[f"_p{i}" for i in range(_BLOOM_HASHES)], "bw"))
    truth = flagged.join(
        build.withColumnRenamed("bk", "o_custkey").withColumn(
            "is_match", F.lit(True)),
        "o_custkey", "left")
    return (truth.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_probe"),
                 F.sum(F.col("bloom_pass").cast("long"))
                 .alias("n_bloom_pass"),
                 F.sum(F.coalesce(F.col("is_match"), F.lit(False))
                       .cast("long")).alias("n_true"),
                 F.sum((F.col("bloom_pass")
                        & ~F.coalesce(F.col("is_match"), F.lit(False)))
                       .cast("long")).alias("n_false_pos"),
                 F.sum((~F.col("bloom_pass")
                        & F.coalesce(F.col("is_match"), F.lit(False)))
                       .cast("long")).alias("n_false_neg")))


QUERIES["x64_bloom_prune"] = x64_bloom_prune


def _bloom_pos_sql(i: int, key: str) -> str:
    return (f"(CAST(('0x' || substr(md5('b{i}:' || CAST({key} AS "
            f"VARCHAR)), 1, 8)) AS BIGINT) % {_BLOOM_BITS})")


def _x64_oracle() -> str:
    mask = " UNION ALL ".join(
        f"SELECT {_bloom_pos_sql(i, 'c_custkey')} // 32 AS widx, "
        f"(CAST(1 AS BIGINT) << CAST({_bloom_pos_sql(i, 'c_custkey')} "
        f"% 32 AS INTEGER)) AS mask "
        f"FROM customer WHERE c_mktsegment = 'BUILDING'"
        for i in range(_BLOOM_HASHES))
    bits = " AND ".join(
        f"((SELECT COALESCE(MAX(word), 0) FROM words w "
        f"WHERE w.widx = {_bloom_pos_sql(i, 'o_custkey')} // 32) "
        f">> CAST({_bloom_pos_sql(i, 'o_custkey')} % 32 AS INTEGER)) "
        f"& 1 = 1"
        for i in range(_BLOOM_HASHES))
    return f"""
    WITH masks AS ({mask}),
    words AS (SELECT widx, bit_or(mask) AS word FROM masks GROUP BY 1),
    flagged AS (
        SELECT o_orderstatus, o_custkey, ({bits}) AS bloom_pass
        FROM orders),
    truth AS (
        SELECT f.o_orderstatus, f.bloom_pass,
               (b.c_custkey IS NOT NULL) AS is_match
        FROM flagged f
        LEFT JOIN (SELECT DISTINCT c_custkey FROM customer
                   WHERE c_mktsegment = 'BUILDING') b
          ON b.c_custkey = f.o_custkey)
    SELECT o_orderstatus,
           COUNT(*) AS n_probe,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
           CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_match
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN NOT bloom_pass AND is_match
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
    FROM truth GROUP BY 1
"""


ORACLES["x64_bloom_prune"] = _x64_oracle()


def x86_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86: anti-entropy reconciliation by hash ranges (the Merkle-
    tree comparison replicated stores run before shipping data — the
    scale answer to "which parts of these two big tables differ?"):
    both table versions fold into 64 per-bucket digest sums, and only
    buckets whose sums differ need row-level exchange.  Here the
    second version is a deterministic simulated divergence (every
    1000th order's price bumped), and the report shows per bucket the
    digest of each side, whether they differ, and the true changed-row
    count — detected by comparing 64 numbers, not by a full diff.

    The reference's sync bots do exactly this dance against Overpass
    (count probes before fetches, diff mode per range —
    ``OsmSyncBot.java`` S4/S5); this is the relational form.  Digest =
    40-bit md5 prefix per row, bucket = key mod 64, fold = exact
    BIGINT sum (order-insensitive, partial-aggregating, no overflow
    headroom issues at the tested scales; DuckDB's HUGEINT sum casts
    back).  One scan per side, two 64-row aggregates.
    """
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    copy = base.withColumn(
        "cents",
        F.when(F.col("o_orderkey") % 1000 == 0,
               F.col("cents") + 100).otherwise(F.col("cents")))

    def digest_sum(df: DataFrame, out: str) -> DataFrame:
        dig = F.pmod(
            F.conv(F.substring(
                F.md5(F.concat_ws(":", "o_orderkey", "cents")), 1, 13),
                16, 10).cast("bigint"),
            F.lit(1 << 40))
        return (df.groupBy(F.pmod("o_orderkey", F.lit(64)).alias("bucket"))
                .agg(F.count(F.lit(1)).alias(f"n_{out}"),
                     F.sum(dig).alias(f"hash_{out}")))

    a = digest_sum(base, "base")
    b = digest_sum(copy, "copy")
    changed = (base.where(F.col("o_orderkey") % 1000 == 0)
               .groupBy(F.pmod("o_orderkey", F.lit(64)).alias("bucket"))
               .agg(F.count(F.lit(1)).alias("n_changed")))
    return (a.join(b, on="bucket")
            .join(changed, on="bucket", how="left")
            .select("bucket", F.col("n_base").alias("n_rows"),
                    "hash_base", "hash_copy",
                    F.when(F.col("hash_base") != F.col("hash_copy"),
                           F.lit(1)).otherwise(F.lit(0)).alias("differs"),
                    F.coalesce("n_changed", F.lit(0).cast("long"))
                    .alias("n_changed")))


QUERIES["x86_merkle_diff"] = x86_merkle_diff

_MK_DIG = ("CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' "
           "|| CAST(cents AS VARCHAR)), 1, 13)) AS BIGINT) "
           "% 1099511627776")

ORACLES["x86_merkle_diff"] = f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), copy AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 1000 = 0 THEN cents + 100
                    ELSE cents END AS cents
        FROM base
    ), a AS (
        SELECT o_orderkey % 64 AS bucket, COUNT(*) AS n_rows,
               CAST(SUM({_MK_DIG}) AS BIGINT) AS hash_base
        FROM base GROUP BY 1
    ), b AS (
        SELECT o_orderkey % 64 AS bucket,
               CAST(SUM({_MK_DIG}) AS BIGINT) AS hash_copy
        FROM copy GROUP BY 1
    ), ch AS (
        SELECT o_orderkey % 64 AS bucket, COUNT(*) AS n_changed
        FROM base WHERE o_orderkey % 1000 = 0 GROUP BY 1
    )
    SELECT a.bucket, a.n_rows, a.hash_base, b.hash_copy,
           CASE WHEN a.hash_base <> b.hash_copy THEN 1 ELSE 0 END
               AS differs,
           COALESCE(ch.n_changed, 0) AS n_changed
    FROM a JOIN b USING (bucket) LEFT JOIN ch USING (bucket)
"""


def x88_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88: first-significant-digit distribution audit (the Benford
    screen fraud/data-quality pipelines run over money columns):
    per leading digit of o_totalprice, the count and the integer
    permille share — all integer arithmetic (string head of the
    floored value; permille via `div`), so there is nothing to round
    and nothing engine-specific.  One partial-aggregating shuffle over
    nine digit keys plus the 1-row total (bounded broadcast).
    """
    o = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1)
    counts = o.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    return (counts.crossJoin(F.broadcast(total))
            .select("digit", "n",
                    F.expr("(n * 1000) div total").alias("permille")))


QUERIES["x88_benford"] = x88_benford

ORACLES["x88_benford"] = """
    WITH counts AS (
        SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                           AS VARCHAR), 1, 1) AS digit,
               COUNT(*) AS n
        FROM orders GROUP BY 1
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n, (n * 1000) // total AS permille
    FROM counts, tot
"""


def x77_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77: the SALTED hot-key join as a driver-checked query — the
    skew answer for the cases AQE cannot fix (operators/skew.py).

    events ⨝ type-dim on event_type is the canonical power-law shape:
    5 distinct keys over the whole fact table, so a plain shuffle join
    puts ~1/5 of 100 TB in ONE task.  ``salted_join`` scatters each hot
    key across 8 sub-keys (big side salted by row hash, small side
    replicated per salt) and the shuffle-hash hint keeps the join a
    real exchange (a broadcast would hide the salt).  The oracle is the
    PLAIN join + rollup — hash equality proves the decomposition is
    result-invisible, the property that makes salting safe to apply
    mechanically.  Integer cents keep the sum order-proof.
    """
    from ..operators.skew import salted_join
    from ..sources.testdata import load_table as _lt

    ev = (_lt(spark, "events", sf_dir)
          .select("event_id", "event_type",
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("cents")))
    dim = (ev.select("event_type").distinct()
           .select("event_type",
                   F.length("event_type").alias("type_len"))
           .hint("shuffle_hash"))
    j = salted_join(ev, dim, "event_type", salt_factor=8)
    return (j.groupBy("event_type", "type_len")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("cents").alias("sum_cents")))


QUERIES["x77_salted_join"] = x77_salted_join

ORACLES["x77_salted_join"] = """
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ), dim AS (
        SELECT DISTINCT event_type, length(event_type) AS type_len
        FROM ev
    )
    SELECT e.event_type, d.type_len,
           COUNT(*) AS n,
           CAST(SUM(e.cents) AS BIGINT) AS sum_cents
    FROM ev e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type, d.type_len
"""


def p13_variant_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13*: the Spark 4 VARIANT type as the semi-structured fast path
    (the successor to p11's string-JSON kit): heterogeneous event
    documents are assembled as JSON text, ingested ONCE via
    ``parse_json`` into a VARIANT column (binary-encoded, so repeated
    path extraction skips re-tokenizing the text — the at-scale win
    over get_json_object chains), then typed projections come out via
    ``variant_get`` — string, nested int, and double paths — plus a
    ``try_variant_get`` on a missing path (NULL, pinned by the zero
    counter).

    The ORACLE aggregates from the RAW columns, never touching JSON:
    hash equality therefore proves the build → parse_json →
    variant_get roundtrip is value-exact (doubles included — JSON
    shortest-repr text parses back to the identical IEEE value, so
    the integer-cents sum cannot drift).
    """
    ev = load_table(spark, "events", sf_dir)
    doc = F.to_json(F.struct(
        F.col("event_id"), F.col("event_type"), F.col("value"),
        F.struct(F.get_json_object("props", "$.k").cast("long")
                 .alias("k")).alias("meta")))
    v = F.parse_json(doc)
    rows = ev.select(
        F.variant_get(v, "$.event_type", "string").alias("etype"),
        # bigint, not int (the p11 discipline): an out-of-int32 k would
        # NULL silently in Spark's non-ANSI cast but RAISE in DuckDB's
        F.variant_get(v, "$.meta.k", "bigint").alias("k"),
        F.variant_get(v, "$.value", "double").alias("val"),
        F.try_variant_get(v, "$.missing.path", "string").alias("miss"))
    return (rows.groupBy("etype")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").cast("long").alias("sum_k"),
                 F.sum(F.floor(F.col("val") * 100).cast("long"))
                 .alias("sum_cents"),
                 F.count("miss").alias("n_missing")))


QUERIES["p13_variant_kit"] = p13_variant_kit

ORACLES["p13_variant_kit"] = """
    SELECT event_type AS etype, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(0 AS BIGINT) AS n_missing
    FROM events GROUP BY event_type
"""


def g15_border_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G15: the BORDER-ZONE spatial query — the analytic intent of the
    reference's abandoned ``BorderSyncBot``
    (``osm/service/BorderSyncBot.java:13-48``, a ``// TODO generate
    borders area???`` stub that only lists region files): for every
    region polygon, the places within ``D`` degrees of its BORDER
    (min clamped point-to-segment distance over the ring's edges ≤ D,
    either side) — the work queue a border-area sync bot would process.

    Regions are g10's 25 synthetic triangles; the candidate join is the
    same grid blocking with the bbox EXPANDED by D (so no within-D point
    can escape its polygon's cell set), then the exact distance is the
    o5 clamped-projection kernel per edge, pure column arithmetic.  The
    ORACLE is the brute-force cross join with textually-mirrored
    arithmetic — hash equality proves the expanded blocking loses no
    border pair.  At 100 TB: one shuffle of the points on the cell key,
    polygons broadcast-scale.
    """
    from ..functions import geometry as GM
    from ..sources import places as P

    G, D = 30.0, 2.0
    nat = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    clat = ((k * 7 % 140).cast("double") - 70.0 + 0.5)
    clon = ((k * 37 % 340).cast("double") - 170.0 + 0.5)
    s = (k % 3).cast("double") * 5.0 + 10.0
    tri = nat.select(
        "n_nationkey",
        clat.alias("alat"), clon.alias("alon"),
        (clat + s).alias("blat"), (clon + s * 0.5).alias("blon"),
        (clat - s * 0.5).alias("clat2"), (clon + s).alias("clon2"),
    )
    cells = (tri
             .withColumn("cy", F.explode(F.sequence(
                 F.floor((F.least("alat", "blat", "clat2") - D + 90.0) / G),
                 F.floor((F.greatest("alat", "blat", "clat2") + D + 90.0) / G))))
             .withColumn("cx", F.explode(F.sequence(
                 F.floor((F.least("alon", "blon", "clon2") - D + 180.0) / G),
                 F.floor((F.greatest("alon", "blon", "clon2") + D + 180.0) / G)))))
    pts = P.synthetic_active_flat(spark, sf_dir).select(
        "id", "lat", "lon",
        F.floor((F.col("lat") + 90.0) / G).alias("cy"),
        F.floor((F.col("lon") + 180.0) / G).alias("cx"))

    def edge(ax, ay, bx, by):
        return GM.orthogonal_distance_deg(
            F.col("lat"), F.col("lon"),
            F.col(ax), F.col(ay), F.col(bx), F.col(by))

    d_min = F.least(edge("alat", "alon", "blat", "blon"),
                    edge("blat", "blon", "clat2", "clon2"),
                    edge("clat2", "clon2", "alat", "alon"))
    return (pts.join(cells, ["cy", "cx"])
            .where(d_min <= D)
            .select("id", "n_nationkey",
                    F.round(d_min, 6).alias("border_dist")))


QUERIES["g15_border_zone"] = g15_border_zone


def _oseg_sql(px, py, ax, ay, bx, by):
    """DuckDB mirror of geometry.orthogonal_distance_deg — identical
    expression order, power(x, 2) for Spark's ``** 2`` (the o5-proven
    pairing)."""
    denom = f"(power({bx} - {ax}, 2) + power({by} - {ay}, 2))"
    dot = (f"(({px} - {ax}) * ({bx} - {ax})"
           f" + ({py} - {ay}) * ({by} - {ay}))")
    t = (f"least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), "
         f"CASE WHEN {denom} = 0 THEN CAST(0.0 AS DOUBLE) "
         f"ELSE {dot} / {denom} END))")
    cx = f"({ax} + {t} * ({bx} - {ax}))"
    cy = f"({ay} + {t} * ({by} - {ay}))"
    return f"sqrt(power({px} - {cx}, 2) + power({py} - {cy}, 2))"


_G15_DMIN = "least({}, {}, {})".format(
    _oseg_sql("p.lat", "p.lon", "t.alat", "t.alon", "t.blat", "t.blon"),
    _oseg_sql("p.lat", "p.lon", "t.blat", "t.blon", "t.clat2", "t.clon2"),
    _oseg_sql("p.lat", "p.lon", "t.clat2", "t.clon2", "t.alat", "t.alon"))

ORACLES["g15_border_zone"] = f"""
    WITH {{FLAT}},
    tri AS (
        SELECT n_nationkey,
               CAST((n_nationkey * 7) % 140 AS DOUBLE)
                   - CAST(70.0 AS DOUBLE) + CAST(0.5 AS DOUBLE) AS alat,
               CAST((n_nationkey * 37) % 340 AS DOUBLE)
                   - CAST(170.0 AS DOUBLE) + CAST(0.5 AS DOUBLE) AS alon,
               CAST((n_nationkey % 3) * 5 + 10 AS DOUBLE) AS s
        FROM nation
    ), tri2 AS (
        SELECT n_nationkey, alat, alon,
               alat + s AS blat, alon + s * CAST(0.5 AS DOUBLE) AS blon,
               alat - s * CAST(0.5 AS DOUBLE) AS clat2, alon + s AS clon2
        FROM tri
    )
    SELECT p.id, t.n_nationkey,
           round({_G15_DMIN}, 6) AS border_dist
    FROM active p, tri2 t
    WHERE {_G15_DMIN} <= CAST(2.0 AS DOUBLE)
""".replace("{FLAT}", flat_snapshots_sql_ctes())


def x92_retract_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92: RETRACTABLE aggregate maintenance — the CDC-consumer
    contract (Flink retract streams / Delta change-data-feed): a
    +1/-1-signed changelog (epoch 1 inserts every order, epoch 2
    retracts the keys divisible by 7) folds into per-status counts and
    integer-cent sums WITHOUT ever touching the base table — additive
    aggregates absorb deletions by sign-folding, which is exactly why
    100 TB incremental rollups restrict themselves to sum/count shapes
    (MIN/MAX are NOT retractable: a deleted extremum needs a rescan —
    documented, deliberately not emitted here).

    The oracle aggregates the SURVIVING rows directly — hash equality
    proves fold(changelog) == agg(current state), the invariant every
    retraction pipeline rests on.  One partial-agg shuffle; the
    changelog union is two scans of the same parquet with pushed
    projections.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    inserts = o.select("o_orderstatus", "cents",
                       F.lit(1).cast("long").alias("sign"))
    retracts = (o.where(F.col("o_orderkey") % 7 == 0)
                .select("o_orderstatus", "cents",
                        F.lit(-1).cast("long").alias("sign")))
    log = inserts.unionByName(retracts)
    return (log.groupBy("o_orderstatus")
            .agg(F.sum("sign").alias("n_live"),
                 F.sum(F.col("sign") * F.col("cents")).alias("sum_cents"))
            # a fully-retracted group folds to (0, 0) but agg-of-
            # survivors has NO row for it — drop it, matching the
            # semantics the oracle proves
            .where(F.col("n_live") != 0))


QUERIES["x92_retract_rollup"] = x92_retract_rollup

ORACLES["x92_retract_rollup"] = """
    SELECT o_orderstatus, COUNT(*) AS n_live,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders WHERE o_orderkey % 7 <> 0
    GROUP BY o_orderstatus
"""
