"""Place merge/close pipeline (MergePlaceBot semantics, SURVEY.md §3.3).

The reference reviews each month's closed places, matches them against
nearby created/active places through a fuzzy-name cascade, merges
matches and permanently closes the rest
(``MergePlaceBot.java:100-245,359-482``, ``MergeUtil.java:35-284``).

Spark-first decomposition:

- ``merge_candidates`` — J3 distance join (tile-blocked ≤100 m) + the
  J4 match cascade as one CASE column.  The join is an equi-join on the
  tile block + cheap verify, so at 100 TB it shuffles once on the tile
  key and never goes quadratic beyond a tile;
- ``pick_merges`` — J5 ambiguity guard + best-candidate selection via a
  window (the reference's priority-ordered cascade → ``row_number``);
- ``merge_ops`` / ``close_ops`` — M5/M6 op generation as changelog rows
  (consumed by ``operators.changelog.apply_operations``);
- ``merge_and_close`` — the whole monthly bot run.

Match-type cascade (MergeUtil.java:35-82):
1 NAME_MATCH (check_names on the main names)
2 OTHER_TAGS_MATCH (wikidata/website equality, both non-empty)
3 OTHER_NAME_MATCH (check_names across alt-name lists: name*, old_name)
4 EMPTY_NAME_MATCH (both nameless; forbids merging when ambiguous —
  MergePlaceBot.java:366-381)
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as TX
from ..functions.dialect import SPARK, Dialect
from ..functions.geo import haversine_m

MATCH_NAME = 1
MATCH_OTHER_TAGS = 2
MATCH_OTHER_NAME = 3
MATCH_EMPTY = 4

#: MergePlaceBot.java:40 SIMILAR_PLACE_DISTANCE
SIMILAR_PLACE_DISTANCE_M = 100.0


def match_type(d: Dialect, a_name: str, b_name: str,
               a_wikidata: str, b_wikidata: str,
               a_website: str, b_website: str,
               a_alt: str, b_alt: str) -> str:
    """The cascade as one CASE expression; null = no match.  ``a_*`` is
    the closed (old) place, ``b_*`` the candidate."""
    a_empty = f"(({a_name} IS NULL) OR ({d.trim(a_name)} = ''))"
    b_empty = f"(({b_name} IS NULL) OR ({d.trim(b_name)} = ''))"
    name = (f"((NOT {a_empty}) AND (NOT {b_empty}) AND "
            f"{TX.check_names(d, a_name, b_name)})")
    tags = (f"({TX.tag_equal_non_empty(d, a_wikidata, b_wikidata)} OR "
            f"{TX.tag_equal_non_empty(d, a_website, b_website)})")
    # OTHER_NAME_MATCH: check_names across the two alt-name lists
    # (MergeUtil.java:254-284)
    other = d.exists(a_alt, "an", d.exists(
        b_alt, "bn", TX.check_names(d, "an", "bn")))
    # EMPTY_NAME_MATCH fires when both are nameless OR when only the
    # old/closed side is nameless ("if name appeared",
    # MergeUtil.java:69-77) — b_empty alone does NOT match.
    return (f"CASE WHEN {name} THEN {MATCH_NAME} "
            f"WHEN {tags} THEN {MATCH_OTHER_TAGS} "
            f"WHEN {other} THEN {MATCH_OTHER_NAME} "
            f"WHEN {a_empty} THEN {MATCH_EMPTY} END")


def merge_candidates(closed: DataFrame, active: DataFrame,
                     dist_m: float = SIMILAR_PLACE_DISTANCE_M,
                     block_prefix: int = 4,
                     neighbor_blocking: bool = False,
                     cell_deg: float = 0.05) -> DataFrame:
    """J3+J4: closed × active within ``dist_m``, scored by the cascade.

    Inputs need columns (id, tile_id, lat, lon, name) and optionally
    wikidata/website/alt_names; missing ones are treated as null/empty.

    Blocking modes:
    - default (parity with the reference): equi-join on
      ``substr(tile_id, 1, block_prefix)`` — the reference joins within
      one tile group and accepts boundary misses
      (OprHistoryChangesProvider.java:149-150);
    - ``neighbor_blocking=True`` (corrected mode, SURVEY.md §4 custom
      item 1): the closed side explodes its 3×3 grid-cell neighborhood,
      the active side keys by its own cell — border-correct for any
      ``dist_m`` ≤ one cell, still an equi-join (each pair meets in at
      most one cell, so no dedup is needed).
    """
    from ..functions.geo import grid_tile, tile_neighbors

    def prep(df: DataFrame, side: str) -> DataFrame:
        cols = dict.fromkeys(df.columns)
        out = df
        for opt in ("wikidata", "website"):
            if opt not in cols:
                out = out.withColumn(opt, F.lit(None).cast("string"))
        if "alt_names" not in cols:
            out = out.withColumn(
                "alt_names",
                F.when(F.col("name").isNotNull(), F.array(F.col("name")))
                .otherwise(F.array().cast("array<string>")))
        if neighbor_blocking:
            blk = (F.explode(tile_neighbors(F.col("lat"), F.col("lon"),
                                            cell_deg))
                   if side == "c" else
                   grid_tile(F.col("lat"), F.col("lon"), cell_deg))
        else:
            blk = F.substring("tile_id", 1, block_prefix)
        return out.select(
            blk.alias("blk"),
            *[F.col(c).alias(f"{side}_{c}")
              for c in ("id", "lat", "lon", "name", "wikidata", "website",
                        "alt_names")])

    c = prep(closed, "c")
    a = prep(active, "a")
    dist = F.expr(haversine_m(SPARK, "c_lat", "c_lon", "a_lat", "a_lon"))
    mt = F.expr(match_type(
        SPARK, "c_name", "a_name", "c_wikidata", "a_wikidata",
        "c_website", "a_website", "c_alt_names", "a_alt_names"))
    return (
        c.join(a, on="blk")
        .where(F.col("c_id") != F.col("a_id"))
        .withColumn("dist_m", dist)
        .where(F.col("dist_m") <= dist_m)
        .withColumn("match_type", mt)
        .where(F.col("match_type").isNotNull())
        .select("c_id", "a_id", "dist_m", "match_type")
    )


def pick_merges(cands: DataFrame) -> DataFrame:
    """J5 + selection: per closed place, the best candidate by
    (match_type, dist); EMPTY_NAME matches are dropped when ambiguous
    (MergePlaceBot.java:366-381 — a forbidden 2-way merge), and any
    closed place whose best tier is shared by 2+ equally-typed
    candidates at EMPTY tier is skipped."""
    w = Window.partitionBy("c_id")
    best_type = F.min("match_type").over(w)
    at_best = cands.withColumn("best_type", best_type).where(
        F.col("match_type") == F.col("best_type"))
    n_at_best = F.count(F.lit(1)).over(w)
    ranked = (
        at_best.withColumn("n_at_best", n_at_best)
        .where(~((F.col("best_type") == MATCH_EMPTY) & (F.col("n_at_best") > 1)))
        .withColumn("rk", F.row_number().over(
            w.orderBy("dist_m", "a_id")))
        .where(F.col("rk") == 1)
    )
    return ranked.select("c_id", "a_id", F.col("match_type"), "dist_m")


def merge_ops(picks: DataFrame, closed_docs: DataFrame,
              id_col: str = "id", doc_col: str = "doc") -> DataFrame:
    """M5: changelog rows merging each closed place into its survivor.

    For the survivor: ``{"source.osm": {"appendmany": [closed's osm]}}``;
    for the closed place: a ``delete`` row.  ``closed_docs`` carries the
    closed documents as JSON (id_col, doc_col).

    ``op_seq`` is 0 for the survivor edit and 1 for the closed delete —
    deterministic (no batch-local counters: those vary with shuffle
    order).  When one survivor absorbs several closed places the edit
    rows tie on (block_id, op_seq) and ``apply_operations`` resolves the
    tie by its total struct sort, which is order-independent because
    field unions commute (append-only changes).
    """
    import pandas as pd

    joined = picks.join(
        closed_docs.select(F.col(id_col).cast("string").alias("c_id"),
                           F.col(doc_col).alias("c_doc")),
        on="c_id")

    schema = "obj_id string, block_id long, op_seq long, action string, " \
             "doc string, change string"

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in ("obj_id", "block_id", "op_seq",
                                    "action", "doc", "change")}

            def emit(oid, seq, action, doc=None, change=None):
                rows["obj_id"].append(str(oid))
                rows["block_id"].append(0)
                rows["op_seq"].append(seq)
                rows["action"].append(action)
                rows["doc"].append(doc)
                rows["change"].append(change)

            for c_id, a_id, c_doc in zip(pdf["c_id"], pdf["a_id"],
                                         pdf["c_doc"]):
                src = json.loads(c_doc).get("source", {}).get("osm", [])
                change = {"source.osm": {"appendmany": src}}
                emit(a_id, 0, "edit",
                     change=json.dumps(change, ensure_ascii=False))
                emit(c_id, 1, "delete")
            yield pd.DataFrame(rows)

    return joined.mapInPandas(gen, schema=schema)


def close_ops(closed: DataFrame, cands: DataFrame,
              now_iso: str, min_age_days: int = 10) -> DataFrame:
    """J8+M6: permanently close places with NO similar active place
    nearby (anti-join on candidates) that were deleted ≥ ``min_age_days``
    before ``now_iso`` (MergePlaceBot.java:39,211-245,280-288).

    ``closed`` needs (id, deleted_ts timestamp-string).  Clock is
    injected (``now_iso``) — the reference's ``new Date()`` is one of
    its nondeterminism hazards (SURVEY.md §7).
    """
    aged = closed.where(
        F.datediff(F.to_timestamp(F.lit(now_iso)),
                   F.to_timestamp("deleted_ts")) >= min_age_days)
    safe = aged.join(cands.select(F.col("c_id").alias("id")).distinct(),
                     on="id", how="left_anti")
    change = F.to_json(F.create_map(
        F.lit("deleted"), F.struct(F.lit(now_iso).alias("set"))))
    return safe.select(
        F.col("id").cast("string").alias("obj_id"),
        F.lit(1).cast("long").alias("block_id"),
        F.lit(0).cast("long").alias("op_seq"),
        F.lit("edit").alias("action"),
        F.lit(None).cast("string").alias("doc"),
        change.alias("change"),
    )


def merge_and_close(closed: DataFrame, active: DataFrame,
                    closed_docs: DataFrame, now_iso: str,
                    dist_m: float = SIMILAR_PLACE_DISTANCE_M,
                    min_age_days: int = 10) -> tuple[DataFrame, DataFrame]:
    """One bot run: returns (merge changelog, close changelog)."""
    cands = merge_candidates(closed, active, dist_m)
    picks = pick_merges(cands)
    merges = merge_ops(picks, closed_docs)
    closes = close_ops(closed, cands, now_iso, min_age_days)
    return merges, closes
