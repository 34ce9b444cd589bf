"""Distributed totally-ordered operators.

A Spark window with a global ORDER BY and no PARTITION BY moves every
row to ONE task (WindowExec warns about exactly this) — fine at sf0.1,
a wall at 100 TB.  Both totally-ordered operators the engine needs
(the token-budget cumsum of ``curate_corpus``, the op/block packing of
S14) decompose into the classic two-phase scan:

1. ``repartitionByRange`` on the order key — Spark range-samples the
   key distribution, so partitions are balanced and partition i holds
   keys strictly before partition i+1;
2. per-partition prefix aggregation (an ordinary partitioned window,
   parallel across partitions);
3. one tiny aggregate of per-partition totals, joined back (broadcast)
   to offset each partition — total shuffled data beyond the range
   exchange is ~num_partitions rows.

The result is value-identical to the single-task window (integer sums
commute; the order key must be a total order — callers tiebreak).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def global_cumsum(df: DataFrame, value_col: str, order_cols: list,
                  out_col: str, num_partitions: int | None = None,
                  ascending: list[bool] | None = None) -> DataFrame:
    """``out_col`` = running sum of ``value_col`` over the TOTAL order
    given by ``order_cols`` (list of column names; ``ascending`` flags
    per column, default all-ascending), without a single-task window.
    """
    asc = ascending or [True] * len(order_cols)
    sort_exprs = [F.col(c) if a else F.col(c).desc()
                  for c, a in zip(order_cols, asc)]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # repartitionByRange runs a range-SAMPLING job that recomputes its
    # whole input lineage, then the real exchange recomputes it again —
    # localCheckpoint so an expensive upstream pipeline (curate_corpus
    # computes every text feature) executes exactly once and both jobs
    # read the SAME blocks (sampling determinism).  Measured against
    # persist(): the InMemoryRelation columnar path costs 2-4x on the
    # first (benched) execution; localCheckpoint stores raw partitions.
    # This makes construction of a total-order operator EAGER — the
    # plan-audit laziness test whitelists its two callers with that
    # justification.  Callers must free blocks via unpersisting
    # retained RDDs (session.drop_retained_blocks), clearCache alone
    # does not.
    df = df.localCheckpoint()
    ranged = df.repartitionByRange(n, *sort_exprs).withColumn(
        "_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(*sort_exprs) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = ranged.withColumn("_local", F.sum(value_col).over(w))
    totals = (
        local.groupBy("_pid")
        .agg(F.sum(value_col).alias("_ptotal"))
    )
    woff = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_offset", F.coalesce(F.sum("_ptotal").over(woff), F.lit(0)))
    # offsets is num_partitions rows — the single-task window above runs
    # over that tiny frame only; broadcast it back
    return (
        local.join(F.broadcast(offsets.select("_pid", "_offset")),
                   on="_pid")
        .withColumn(out_col, F.col("_local") + F.col("_offset"))
        .drop("_pid", "_local", "_offset")
    )


def global_row_index(df: DataFrame, order_cols: list, out_col: str,
                     num_partitions: int | None = None) -> DataFrame:
    """0-based global rank over a total order, same two-phase shape
    (the distributed replacement for ``row_number()`` over an
    unpartitioned window)."""
    tagged = df.withColumn("_one", F.lit(1).cast("long"))
    out = global_cumsum(tagged, "_one", order_cols, out_col,
                        num_partitions)
    return out.withColumn(out_col, F.col(out_col) - 1).drop("_one")


def global_running_prefix_max(df: DataFrame, value_col: str,
                              order_cols: list, out_col: str,
                              num_partitions: int | None = None,
                              ascending: list[bool] | None = None,
                              strict: bool = True) -> DataFrame:
    """``out_col`` = max of ``value_col`` over all rows STRICTLY before
    (``strict=True``) or up to the current row in the total order —
    the two-phase decomposition of ``max() OVER (ORDER BY ... ROWS
    UNBOUNDED PRECEDING [AND 1 PRECEDING])`` (max commutes exactly like
    the sums above; same range-exchange + per-partition window +
    broadcast-offset shape, no single-task window).  NULL when no
    preceding row exists."""
    asc = ascending or [True] * len(order_cols)
    sort_exprs = [F.col(c) if a else F.col(c).desc()
                  for c, a in zip(order_cols, asc)]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    df = df.localCheckpoint()
    ranged = df.repartitionByRange(n, *sort_exprs).withColumn(
        "_pid", F.spark_partition_id())
    end = -1 if strict else 0
    w = Window.partitionBy("_pid").orderBy(*sort_exprs) \
        .rowsBetween(Window.unboundedPreceding, end)
    local = ranged.withColumn("_local", F.max(value_col).over(w))
    totals = ranged.groupBy("_pid").agg(
        F.max(value_col).alias("_ptotal"))
    woff = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_offset", F.max("_ptotal").over(woff))
    return (
        local.join(F.broadcast(offsets.select("_pid", "_offset")),
                   on="_pid")
        .withColumn(out_col, F.greatest("_local", "_offset"))
        .drop("_pid", "_local", "_offset")
    )
