"""S4: adaptive count-probe bbox splitting (OsmSyncBot.split/proc,
OsmSyncBot.java:503-607).

The reference probes each bbox with a count query and recursively
splits any box holding >= SPLIT_QUERY_LIMIT_PLACES (20 000) objects,
with the reference's exact split-factor schedule (OsmSyncBot.java:505-
514): 2x2 by default, 4x4 below level 3, 36x18 for the world box; a
split below level 7 of the world grid is an error, so depth is capped.

Spark-first shape: instead of one count RPC per box (the reference
issues thousands of Overpass count probes), ONE pass assigns every
point its finest-level cell, then the per-level counts roll up from
that single aggregation (each rollup is a tiny aggregate over cell
counts, not over points).  The split frontier walks top-down as
DataFrame joins — nothing is collected to the driver, so the leaf set
can be millions of cells.  At scale the leaf table IS the partition
plan: each leaf is one balanced read task (< limit rows), which is the
same role the reference's task tree plays, minus the sequential probe
round-trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: OsmSyncBot.java:98
SPLIT_QUERY_LIMIT_PLACES = 20_000

#: levels the reference allows before "Split went too deep" (level >= 7)
MAX_LEVEL = 6


def split_factors(level: int, width: float, height: float,
                  diff: bool = False) -> tuple[int, int]:
    """The reference's split schedule (OsmSyncBot.java:505-514)."""
    sx = sy = 2
    if level < 3 and not diff:
        sx = sy = 4
    if width >= 180:
        sx = 36
    if height >= 90:
        sy = 18
    return sx, sy


def level_dims(max_level: int = MAX_LEVEL,
               diff: bool = False) -> list[tuple[float, float]]:
    """(cell_width, cell_height) per level, world box down."""
    dims = [(360.0, 180.0)]
    for lv in range(max_level):
        w, h = dims[-1]
        sx, sy = split_factors(lv, w, h, diff)
        dims.append((w / sx, h / sy))
    return dims


def adaptive_split_cells(pts: DataFrame, lat_col: str = "lat",
                         lon_col: str = "lon",
                         limit: int = SPLIT_QUERY_LIMIT_PLACES,
                         max_level: int = MAX_LEVEL,
                         diff: bool = False) -> DataFrame:
    """Leaf cells of the adaptive split: (level, ix, iy, cnt).

    A cell is a leaf iff its parent chain is all oversized (>= limit)
    and it is itself under the limit — or it sits at ``max_level``
    (the reference's depth cap).  The world box (level 0) is the leaf
    when the whole input is under the limit.
    """
    dims = level_dims(max_level, diff)
    fw, fh = dims[max_level]
    finest = pts.select(
        F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(fw)).alias("ix"),
        F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(fh)).alias("iy"),
    ).groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("cnt"))
    # The frontier walk below references each level's ``children``
    # frame twice (leaves union + next frontier), nesting this
    # full-input aggregation up to 2**max_level times in the final
    # plan; everything downstream is a bounded cell-count table
    # (<= occupied finest cells), so materialize the one heavy pass
    # once and let every duplicate subtree scan the checkpoint
    # (interleaved A/B at sf0.1: 2.8-5.4 -> 2.3-2.9 s end to end,
    # values identical).
    finest = finest.localCheckpoint(eager=True)

    # per-level counts roll up from the single finest aggregation:
    # child index // split factor = parent index (grids nest exactly)
    counts: list[DataFrame] = [None] * (max_level + 1)
    counts[max_level] = finest
    for lv in range(max_level - 1, -1, -1):
        sx, sy = split_factors(lv, *dims[lv], diff)
        counts[lv] = (
            counts[lv + 1]
            .groupBy(F.floor(F.col("ix") / sx).cast("long").alias("ix"),
                     F.floor(F.col("iy") / sy).cast("long").alias("iy"))
            .agg(F.sum("cnt").alias("cnt"))
        )

    # top-down frontier: split cells expand, the rest are leaves.
    # Full-sync parity: the reference splits the world box BEFORE any
    # count probe when not diff (OsmSyncBot.java:544-549), so level 0
    # can only be a leaf in diff mode.
    if diff:
        leaves = counts[0].where(F.col("cnt") < limit).withColumn(
            "level", F.lit(0))
        frontier = counts[0].where(F.col("cnt") >= limit)
    else:
        leaves = counts[0].where(F.lit(False)).withColumn(
            "level", F.lit(0))
        frontier = counts[0]
    for lv in range(1, max_level + 1):
        sx, sy = split_factors(lv - 1, *dims[lv - 1], diff)
        parents = frontier.select(F.col("ix").alias("pix"),
                                  F.col("iy").alias("piy"))
        children = counts[lv].join(
            parents,
            (F.floor(F.col("ix") / sx).cast("long") == F.col("pix"))
            & (F.floor(F.col("iy") / sy).cast("long") == F.col("piy")),
        ).select("ix", "iy", "cnt")
        if lv == max_level:
            leaves = leaves.unionByName(
                children.withColumn("level", F.lit(lv)))
            break
        leaves = leaves.unionByName(
            children.where(F.col("cnt") < limit)
            .withColumn("level", F.lit(lv)))
        frontier = children.where(F.col("cnt") >= limit)
    return leaves.select("level", "ix", "iy", "cnt")
