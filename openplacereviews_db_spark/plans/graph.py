"""Graph-centrality plan: fixed-iteration PageRank over the
customer↔supplier interaction graph (SURVEY.md §2.13 X40).

PageRank is the canonical "iterative algorithm on Spark" shape — the
kind of link-quality signal a crawl-curation pipeline computes over a
page graph.  Three damped iterations as a STATIC lazy plan (no
convergence probe, so no driver action and no lineage growth — the
checkpoint-per-round rule applies only to unbounded loops), with an
unrolled-CTE DuckDB oracle.

Cross-engine float discipline: ranks are carried as BIGINT pico-ranks
(fixed-point, scale 1e12) and every rounded division uses the exact
HALF_UP integer scheme ``(2p + q) div (2q)`` — never ``round(double)``,
whose Spark shortest-repr vs DuckDB binary-value semantics split on the
.5 grid (see CLAUDE.md).  The only float op is the final
``CAST(pr_fp AS DOUBLE) / 1e12``, bit-identical on identical integers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.dialect import DUCKDB, SPARK
from ..sources.testdata import load_table

_DAMP = 0.85
_ITERS = 3
#: fixed-point scale for integer-carried ranks (pico-ranks)
_SCALE = 10 ** 12
#: (1 - _DAMP) * _SCALE, exact in integers
_BASE_NUM = 150_000_000_000


def g9_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the bipartite customer↔supplier graph
    (distinct (o_custkey, l_suppkey) pairs, both directions, so every
    node has out-degree ≥ 1 and there are no dangling nodes).

    Scale shape: the edge build is one equi-join + distinct; each
    iteration is [edges ⋈ ranks on src] (AQE broadcasts the rank side —
    |V| rows — under the fact-side edge table) → groupBy(dst) partial
    sum → join back to the degree table.  Three iterations = a bounded
    static plan; the node count is a 1-row broadcast (audit-whitelisted).
    """
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey",
                                                      "l_suppkey")
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey",
                                                        "o_custkey")
    # distinct on the INTEGER key pair, node strings built after — the
    # dedup shuffle carries 16 bytes/row instead of two strings (A/B'd
    # ~2x faster at sf0.1); bijective, so the edge set is identical
    pairs = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .select("o_custkey", "l_suppkey").distinct()
             .select(F.concat(F.lit("c:"),
                              F.col("o_custkey").cast("string")).alias("c"),
                     F.concat(F.lit("s:"),
                              F.col("l_suppkey").cast("string")).alias("s")))
    edges = (pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
             .union(pairs.select(F.col("s").alias("src"),
                                 F.col("c").alias("dst"))))
    # The edge and degree relations are referenced ~4x each across the
    # three iterations; materialize them once (plus the per-iteration
    # rank checkpoints below, together 13.9 → ~6 s steady-state at
    # sf0.1).  Run-once queries use eager localCheckpoint per the repo
    # rule (audit-whitelisted in EAGER_BUILD_OK).
    edges = edges.localCheckpoint(eager=True)
    deg = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint(eager=True))
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    # pr_fp = HALF_UP(SCALE / n) via the (2p + q) div (2q) integer scheme
    ranks = (deg.crossJoin(F.broadcast(n))
             .select(F.col("src").alias("node"), "deg", "n",
                     F.expr(f"(2 * CAST({_SCALE} AS BIGINT) + n)"
                            " div (2 * n)").alias("pr_fp")))
    for _ in range(_ITERS):
        # per-edge contribution HALF_UP(pr_fp / deg), still integer
        contrib = (
            edges.join(ranks.select(F.col("node").alias("src"),
                                    F.expr("(2 * pr_fp + deg) div (2 * deg)")
                                    .alias("c")),
                       "src")
            .groupBy("dst").agg(F.sum("c").alias("s")))
        # pr' = HALF_UP((1-d)*SCALE / n) + HALF_UP(d * s)  with d = 85/100
        ranks = (
            deg.crossJoin(F.broadcast(n))
            .join(contrib, deg.src == contrib.dst, "left")
            .select(F.col("src").alias("node"), "deg", "n",
                    (F.expr(f"(2 * CAST({_BASE_NUM} AS BIGINT) + n)"
                            " div (2 * n)")
                     + F.expr("(2 * 85 * coalesce(s, CAST(0 AS BIGINT))"
                              " + 100) div 200")).alias("pr_fp"))
            # checkpoint the tiny |V|-row rank frame each round — the
            # fully-lazy 3-iteration chain re-plans a 30-node DAG under
            # AQE and measured 2.4x slower than stepwise materialization
            .localCheckpoint(eager=True))
    return ranks.select(
        "node", "deg",
        (F.col("pr_fp").cast("double") / F.lit(float(_SCALE))).alias("pr"))


def _pagerank_oracle() -> str:
    """Unrolled 3-iteration CTE mirror of :func:`g9_pagerank`."""
    sql = f"""
    WITH ip AS (
        SELECT DISTINCT o_custkey, l_suppkey
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    pairs AS (
        SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
               's:' || CAST(l_suppkey AS VARCHAR) AS s
        FROM ip),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s, c FROM pairs),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS (SELECT src AS node, deg,
                   (2 * {_SCALE} + n) // (2 * n) AS pr_fp
            FROM deg CROSS JOIN nn)"""
    prev = "pr0"
    for i in range(1, _ITERS + 1):
        sql += f""",
    it{i} AS (SELECT e.dst AS node,
                     SUM((2 * p.pr_fp + p.deg) // (2 * p.deg)) AS s
              FROM edges e JOIN {prev} p ON e.src = p.node GROUP BY 1),
    pr{i} AS (SELECT d.src AS node, d.deg,
                     (2 * {_BASE_NUM} + n) // (2 * n)
                         + (2 * 85 * COALESCE(it{i}.s, 0) + 100) // 200
                         AS pr_fp
              FROM deg d CROSS JOIN nn LEFT JOIN it{i} ON it{i}.node = d.src)"""
        prev = f"pr{i}"
    sql += f"""
    SELECT node, deg, CAST(pr_fp AS DOUBLE) / 1.0e12 AS pr FROM {prev}
    """
    return sql


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "g9_pagerank": g9_pagerank,
}

ORACLES: dict[str, str] = {
    "g9_pagerank": _pagerank_oracle(),
}


# ---------------------------------------------------------------------------
# X61 — triangle counting over the proximity graph
# ---------------------------------------------------------------------------

#: grid cell for the triangle edge build (same blocking as j2: 0.002°
#: ≈ 222 m ≥ the 150 m radius, so the 3×3 neighborhood is lossless)
_TRI_CELL = 0.002
_TRI_RADIUS_M = 150


def _tri_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 4th event as a point on the j2 synthetic 0.001° grid
    (density-constant: each 100k-id block gets its own longitude box —
    see j2_proximity_pairs; block 0 covers every driver scale)."""
    ev = load_table(spark, "events", sf_dir).where(F.col("event_id") % 4 == 0)
    return ev.select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") % 2000) * 0.001).alias("lat"),
        (((F.col("event_id") * 7) % 2000) * 0.001
         + (F.expr("event_id div 100000") % 140) * 2.5).alias("lon"))


def g11_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (X61) over the 150 m proximity graph — the
    clustering-coefficient primitive (spam-cluster detection in a
    crawl graph; density scoring of a place graph).

    Scale shape: the edge set builds exactly like J2 (3×3 tile
    neighborhood explode on one side, own-tile key on the other — an
    equi-join, never quadratic; ``a < b`` orients each edge once).
    Triangle enumeration is the standard two-step ORIENTED edge join:
    e1(a,b) ⋈ e2(b,c) on the shared middle vertex, then a semi-check
    join against e3(a,c) — with edges oriented a<b<c every triangle is
    produced exactly once, and both joins are hash equi-joins whose
    key is a vertex id (skew = max node degree, bounded by the radius/
    grid geometry, and AQE-splittable).  Output is per-node triangle
    membership counts (each triangle counts once at each corner).

    The oracle rebuilds edges blocking-free (exact distance cross
    join) and enumerates the same oriented join — equality proves the
    tile blocking loses no edge and the orientation produces each
    triangle exactly once.
    """
    pts = _tri_points(spark, sf_dir)
    probes = pts.select(
        "id", "lat", "lon",
        F.explode(geo.tile_neighbors(F.col("lat"), F.col("lon"),
                                     _TRI_CELL)).alias("tile"))
    build = pts.select(
        F.col("id").alias("id_b"), F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        geo.grid_tile(F.col("lat"), F.col("lon"), _TRI_CELL).alias("tile"))
    dist = F.expr(geo.haversine_m(SPARK, "lat", "lon", "lat_b", "lon_b"))
    edges = (probes.join(build, on="tile")
             .where(F.col("id") < F.col("id_b"))
             .where(F.round(dist, 3) < _TRI_RADIUS_M)
             .select(F.col("id").alias("a"), F.col("id_b").alias("b")))
    e1 = edges
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tris = (e1.join(e2, "b")
            .join(e3, ["a", "c"])
            .select("a", "b", "c"))
    corners = tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return (corners.groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_triangles")))


QUERIES["g11_triangle_count"] = g11_triangle_count


def _g11_oracle() -> str:
    hav = geo.haversine_m(DUCKDB, "x.lat", "x.lon", "y.lat", "y.lon")
    return f"""
    WITH pts AS (
        SELECT event_id AS id,
               (event_id % 2000) * 0.001       AS lat,
               CAST(((event_id * 7) % 2000) * 0.001 AS DOUBLE)
                 + ((event_id // 100000) % 140) * 2.5 AS lon
        FROM events WHERE event_id % 4 = 0),
    edges AS (
        SELECT x.id AS a, y.id AS b
        FROM pts x, pts y
        WHERE x.id < y.id AND round({hav}, 3) < {_TRI_RADIUS_M}),
    tris AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
    corners AS (
        SELECT unnest([a, b, c]) AS node FROM tris)
    SELECT node, COUNT(*) AS n_triangles
    FROM corners GROUP BY 1
"""


ORACLES["g11_triangle_count"] = _g11_oracle()


# ---------------------------------------------------------------------------
# X65 — hierarchy flattening via pointer doubling
# ---------------------------------------------------------------------------

#: synthetic 7-ary hierarchy over customer keys: parent(k) = k div 7,
#: roots are k < 7.  Depth ≤ log7(max key): 5 doubling rounds cover
#: depth 2^5 = 32, i.e. keys up to 7^32 — any scale factor ever.
_HIER_FANOUT = 7
_HIER_ROUNDS = 5


def x65_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening (X65): resolve every node's ROOT and DEPTH
    in a parent-pointer relation — Spark's answer to ``WITH
    RECURSIVE`` (which the DataFrame API lacks) via POINTER DOUBLING:
    each round joins the ancestor relation with itself, so the walked
    distance doubles per round and a depth-D hierarchy flattens in
    ⌈log2 D⌉ equi-joins instead of D sequential ones — at 100 TB,
    5 shuffles for a depth-32 hierarchy where the naive walk pays 32.
    Root rows saturate ((anc, steps) = (self, 0)), so over-walking is
    harmless and no convergence probe is needed: the round count is a
    static bound from the key domain.

    The parent table is a synthetic 7-ary forest over customer keys
    (parent = k div 7, roots k < 7) — used strictly as DATA through
    the joins, exactly like a real org/category/thread hierarchy.
    State is localCheckpointed per round (the iterative-loop rule;
    whitelisted in EAGER_BUILD_OK like operators/components.py).  The
    oracle is DuckDB's native ``WITH RECURSIVE`` — an INDEPENDENT
    implementation, the j11-ASOF pattern."""
    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    is_root = k < _HIER_FANOUT
    state = c.select(
        k.alias("node"),
        F.when(is_root, k).otherwise(
            F.expr(f"c_custkey div {_HIER_FANOUT}")).alias("anc"),
        F.when(is_root, F.lit(0)).otherwise(F.lit(1))
        .cast("long").alias("steps"),
    ).localCheckpoint(eager=True)
    for _ in range(_HIER_ROUNDS):
        a, b = state.alias("a"), state.alias("b")
        state = (a.join(b, F.col("a.anc") == F.col("b.node"))
                 .select(F.col("a.node").alias("node"),
                         F.col("b.anc").alias("anc"),
                         (F.col("a.steps") + F.col("b.steps"))
                         .alias("steps"))
                 .localCheckpoint(eager=True))
    return state.select("node", F.col("anc").alias("root"),
                        F.col("steps").alias("depth"))


QUERIES["x65_hierarchy_flatten"] = x65_hierarchy_flatten

ORACLES["x65_hierarchy_flatten"] = f"""
    WITH RECURSIVE walk(node, anc, depth) AS (
        SELECT c_custkey AS node,
               CASE WHEN c_custkey < {_HIER_FANOUT} THEN c_custkey
                    ELSE c_custkey // {_HIER_FANOUT} END AS anc,
               CASE WHEN c_custkey < {_HIER_FANOUT} THEN 0
                    ELSE 1 END AS depth
        FROM customer
        UNION ALL
        SELECT node,
               CASE WHEN anc < {_HIER_FANOUT} THEN anc
                    ELSE anc // {_HIER_FANOUT} END,
               depth + CASE WHEN anc < {_HIER_FANOUT} THEN 0 ELSE 1 END
        FROM walk WHERE anc >= {_HIER_FANOUT}
    )
    SELECT node, anc AS root, CAST(depth AS BIGINT) AS depth
    FROM walk WHERE anc < {_HIER_FANOUT}
"""
