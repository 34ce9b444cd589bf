"""Grouping / clustering operators (SURVEY.md §2.8).

- ``greedy_proximity_groups`` (G2): the reference's per-tile greedy
  150 m clustering (``OprHistoryChangesProvider.java:171-209``) —
  deleted feature pulls nearby created features (nearest first), then
  nearby other deleted ones; groups keep the [deleted…, created…]
  invariant (:205).  Groups are tile-local and small, so the Spark shape
  is ``groupBy(tile).applyInPandas`` with the exact greedy loop inside —
  bit-compatible with the reference's iteration order (TreeMap ⇒ we sort
  by id).  The shuffle key is the tile: at 100 TB every tile is an
  independent task and no task sees more than one tile's features.
- ``segment_groups`` (G1, ``MergeUtil.java:99-113``): split an ordered
  feature sequence into groups at each live→deleted boundary, as a
  lag + cumulative-sum window.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import geo
from ..functions.dialect import SPARK
from ..functions.geo import HAVERSINE_R_KM

STATUS_DELETED = "deleted"
STATUS_CREATED = "created"


def _haversine_py(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Same constants/shape as functions.geo.haversine_m
    (OsmMapUtils.java:96-110)."""
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = (math.sin(dlat / 2) ** 2
         + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
         * math.sin(dlon / 2) ** 2)
    return 2 * HAVERSINE_R_KM * 1000 * math.asin(math.sqrt(a))


#: elements cap above which the greedy kernel stops precomputing full
#: distance matrices and computes rows on demand (O(group) memory)
_DIST_MATRIX_CAP_ELEMS = 4_000_000


def greedy_group_rows(rows: list[dict], dist_m: float = 150.0) -> list[dict]:
    """The greedy loop on one tile's features (pure Python, unit-testable).

    ``rows``: dicts with id, lat, lon, status ('deleted'|'created').
    Returns rows with added group_id (first deleted id of the group) and
    seq (position; deleted members first — the reference's invariant).
    Iteration order is id-sorted (the reference iterates TreeMaps).
    """
    import numpy as np

    deleted = sorted((r for r in rows if r["status"] == STATUS_DELETED),
                     key=lambda r: r["id"])
    created = sorted((r for r in rows if r["status"] == STATUS_CREATED),
                     key=lambda r: r["id"])

    def dist_matrix(a: list[dict], b: list[dict]) -> "np.ndarray":
        """Vectorized haversine (same constants as _haversine_py) —
        tiles hold up to a few thousand features, so the full matrix is
        small; the Python-loop cost was the G2 bottleneck."""
        if not a or not b:
            return np.zeros((len(a), len(b)))
        la = np.radians(np.array([r["lat"] for r in a]))[:, None]
        lo = np.radians(np.array([r["lon"] for r in a]))[:, None]
        lb = np.radians(np.array([r["lat"] for r in b]))[None, :]
        bo = np.radians(np.array([r["lon"] for r in b]))[None, :]
        h = (np.sin((lb - la) / 2) ** 2
             + np.cos(la) * np.cos(lb) * np.sin((bo - lo) / 2) ** 2)
        return 2 * HAVERSINE_R_KM * 1000 * np.arcsin(np.sqrt(h))

    # the greedy loop only ever reads ROWS of the distance matrices —
    # precompute them in full only while the matrices stay small (the
    # vectorized fast path), and switch to on-demand row computation
    # above the cap: a pathological hot tile would otherwise allocate
    # O(group²) doubles in one worker (the r10 GEMM-kernel lesson,
    # similarity._GEMM_SLICE_ELEMS).  Both paths evaluate the identical
    # haversine expression elementwise, so values are bit-identical.
    n_d, n_c = len(deleted), len(created)
    if (n_d * max(n_c, 1) <= _DIST_MATRIX_CAP_ELEMS
            and n_d * n_d <= _DIST_MATRIX_CAP_ELEMS):
        d_c = dist_matrix(deleted, created)
        d_d = dist_matrix(deleted, deleted)

        def row_c(i: int) -> "np.ndarray":
            return d_c[i]

        def row_d(i: int) -> "np.ndarray":
            return d_d[i]
    else:
        la_d = np.radians(np.array([r["lat"] for r in deleted]))
        lo_d = np.radians(np.array([r["lon"] for r in deleted]))
        la_c = np.radians(np.array([r["lat"] for r in created]))
        lo_c = np.radians(np.array([r["lon"] for r in created]))

        def _row(i: int, lb: "np.ndarray", bo: "np.ndarray") -> "np.ndarray":
            h = (np.sin((lb - la_d[i]) / 2) ** 2
                 + np.cos(la_d[i]) * np.cos(lb)
                 * np.sin((bo - lo_d[i]) / 2) ** 2)
            return 2 * HAVERSINE_R_KM * 1000 * np.arcsin(np.sqrt(h))

        def row_c(i: int) -> "np.ndarray":
            return _row(i, la_c, lo_c)

        def row_d(i: int) -> "np.ndarray":
            return _row(i, la_d, lo_d)

    used_c = np.zeros(len(created), dtype=bool)
    used_d = np.zeros(len(deleted), dtype=bool)
    out: list[dict] = []
    for i, d in enumerate(deleted):
        if used_d[i]:
            continue
        used_d[i] = True
        group_del = [d]
        # nearest-first created pull (findNearestPointAndDelete analog)
        group_new = []
        dci = row_c(i)
        cand_idx = np.where(~used_c & (dci < dist_m))[0]
        for j in cand_idx[np.argsort(dci[cand_idx], kind="stable")]:
            group_new.append(created[j])
            used_c[j] = True
        # then other deleted features near the seed, in id order
        for j in np.where(~used_d & (row_d(i) < dist_m))[0]:
            group_del.append(deleted[j])
            used_d[j] = True
        for seq, r in enumerate(group_del + group_new):
            out.append({**r, "group_id": d["id"], "seq": seq})
    # created features never pulled into a group stay ungrouped
    for j, c in enumerate(created):
        if not used_c[j]:
            out.append({**c, "group_id": None, "seq": 0})
    return out


def greedy_proximity_groups(df: DataFrame, dist_m: float = 150.0,
                            tile_col: str = "tile", id_col: str = "id",
                            ) -> DataFrame:
    """G2 over a features DataFrame (tile, id, lat, lon, status)."""
    import pandas as pd

    cols = [tile_col, "id", "lat", "lon", "status", "group_id", "seq"]

    def per_partition(batches):
        # One Python invocation per partition (tiles are hash-assigned to
        # partitions, so a tile never spans two) — with thousands of tiny
        # tiles, per-group applyInPandas overhead dominated the runtime.
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        out: list[dict] = []
        # dropna=False: a NULL tile key must form a group like SQL
        # PARTITION BY would, not silently vanish (tiles are non-null
        # on this corpus; structural guard per the x87 lesson)
        for _, g in pdf.groupby(tile_col, sort=False, dropna=False):
            out.extend(greedy_group_rows(g.to_dict("records"), dist_m))
        yield (pd.DataFrame(out)[cols] if out
               else pd.DataFrame(columns=cols))

    id_type = dict(df.dtypes)[id_col]
    schema = (f"{tile_col} string, id {id_type}, lat double, "
              f"lon double, status string, group_id {id_type}, seq int")
    # EXPLICIT partition count, deliberately: AQE would coalesce this
    # exchange to shuffle-byte-sized partitions (a few, for a small
    # corpus) and serialize the CPU-bound greedy kernel onto 1-4 Python
    # workers — measured 4x slower than pinning cores×2 tasks.  The
    # opposite call from components._contract_star_edges, whose per-row
    # work is trivial and task overhead dominates.
    n_parts = df.sparkSession.sparkContext.defaultParallelism * 2
    return (
        df.select(tile_col, F.col(id_col).alias("id"), "lat", "lon", "status")
        .repartition(n_parts, tile_col)
        .mapInPandas(per_partition, schema=schema)
    )


def segment_groups(df: DataFrame, order_col: str, deleted_col: str,
                   part_col: str | None = None) -> DataFrame:
    """G1: group id = cumulative count of live→deleted boundaries along
    ``order_col`` (optionally per ``part_col``).  Adds ``group_id``.

    Reference parity: ``MergeUtil.getMergeGroups`` walks ``i`` over
    ``[1, size-2]`` only, so a live→deleted transition at the LAST
    element never opens a new group — the boundary flag is gated on not
    being the final row of the partition."""
    wp = Window.partitionBy(part_col) if part_col else \
        Window.partitionBy(F.lit(0))
    w = wp.orderBy(order_col)
    is_del = F.col(deleted_col).cast("boolean")
    prev = F.lag(is_del, 1, False).over(w)
    not_last = F.row_number().over(w) < F.count(F.lit(1)).over(wp)
    boundary = (is_del & ~prev & not_last).cast("long")
    return df.withColumn("group_id", F.sum(boundary).over(w))


def invariant_report(g: DataFrame, dist_m: float = 150.0) -> DataFrame:
    """Driver-checkable INVARIANT report over a greedy clustering result
    ``g`` (tile, id, lat, lon, status, group_id, seq).

    Greedy group assignment is order-dependent (not SQL-expressible),
    but every correct run satisfies deterministic invariants, so this
    emits per tile: the input partition mirror (n_deleted / n_created /
    n_rows — groups must partition the input, which an oracle CAN
    recompute from the flat inputs) and six violation counters an
    oracle pins at literal zero — duplicated ids, ungrouped deleted
    features, groups whose seq-0 member is not the deleted seed,
    created-before-deleted seq ordering (the reference's [deleted…,
    created…] invariant, OprHistoryChangesProvider.java:205), non-dense
    seq, and members ≥ ``dist_m`` from their group seed.  A greedy-
    kernel regression flips a counter and fails the driver hash.
    """
    # g is referenced THREE times below (members, seed, base) and is
    # the output of the greedy Python kernel: left lazy, the whole
    # repartition + mapInPandas subtree executed 3x per run (r14 noop
    # A/B at sf0.1: 4.8 s lazy vs ~1.3 s for one kernel pass +
    # ~0.7 s report).  Eager localCheckpoint per the run-once rule
    # (persist()'s InMemoryRelation build costs 2-4x on the only pass
    # — CLAUDE.md); both callers (g2_proximity_groups,
    # history_report) are whitelisted in EAGER_BUILD_OK.
    g = g.localCheckpoint(eager=True)
    deleted, created = F.lit(STATUS_DELETED), F.lit(STATUS_CREATED)
    seed = (g.where((F.col("seq") == 0) & F.col("group_id").isNotNull())
            .select("tile", "group_id", F.col("lat").alias("slat"),
                    F.col("lon").alias("slon"), F.col("id").alias("seed_id"),
                    F.col("status").alias("seed_status")))
    members = (g.where(F.col("group_id").isNotNull())
               .join(seed, ["tile", "group_id"], "left"))
    per_group = (
        members.groupBy("tile", "group_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("seq").alias("max_seq"),
            F.countDistinct("seq").alias("n_seq"),
            F.max(F.when(F.col("status") == deleted, F.col("seq")))
            .alias("max_del_seq"),
            F.min(F.when(F.col("status") == created, F.col("seq")))
            .alias("min_new_seq"),
            F.max((F.col("seed_id") == F.col("group_id"))
                  & (F.col("seed_status") == deleted)).alias("seed_ok"),
            F.sum(F.when(
                F.expr(geo.haversine_m(SPARK, "slat", "slon", "lat", "lon"))
                >= dist_m, 1)
                .when(F.col("seed_id").isNull(), 1).otherwise(0))
            .alias("far_members"),
        ))
    per_tile_v = per_group.groupBy("tile").agg(
        F.sum(F.when(~F.coalesce(F.col("seed_ok"), F.lit(False)), 1)
              .otherwise(0)).alias("n_seed_violations"),
        F.sum(F.when(F.col("min_new_seq") < F.col("max_del_seq"), 1)
              .otherwise(0)).alias("n_order_violations"),
        F.sum(F.when((F.col("max_seq") != F.col("n") - 1)
                     | (F.col("n_seq") != F.col("n")), 1)
              .otherwise(0)).alias("n_seq_violations"),
        F.sum("far_members").alias("n_dist_violations"),
    )
    base = g.groupBy("tile").agg(
        F.sum(F.when(F.col("status") == deleted, 1).otherwise(0))
        .alias("n_deleted"),
        F.sum(F.when(F.col("status") == created, 1).otherwise(0))
        .alias("n_created"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("id")).alias("n_dup_ids"),
        F.sum(F.when((F.col("status") == deleted)
                     & F.col("group_id").isNull(), 1).otherwise(0))
        .alias("n_ungrouped_deleted"),
    )
    z = F.lit(0).cast("long")
    return (base.join(per_tile_v, "tile", "left")
            .select("tile", "n_deleted", "n_created", "n_rows",
                    "n_dup_ids", "n_ungrouped_deleted",
                    F.coalesce("n_seed_violations", z)
                    .alias("n_seed_violations"),
                    F.coalesce("n_order_violations", z)
                    .alias("n_order_violations"),
                    F.coalesce("n_seq_violations", z)
                    .alias("n_seq_violations"),
                    F.coalesce("n_dist_violations", z)
                    .alias("n_dist_violations")))
