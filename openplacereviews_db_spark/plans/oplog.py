"""Changelog (operation-log) query plans with DuckDB oracles.

These differentially test the M9 fold (`operators.changelog.apply_operations`)
and the E1 CDC extractor (`operators.changelog.extract_diff`) — the core
write-side machinery of the reference (SURVEY.md §2.10) — by building a
changelog whose *net effect* is expressible as plain SQL over the driver
tables:

- ``m9_apply_changelog``: orders become ``create`` ops, each lineitem an
  ``edit`` setting ``lines.{linenumber}``, 'F'-status orders a ``delete``;
  the folded snapshot must equal the orders⟕lineitem SQL aggregate.
- ``e9_extract_diff``: two SQL-derivable snapshots of orders → diff rows
  (action + change map) matched against a CASE-based oracle.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK
from ..operators import changelog as C
from ..sources import staging
from ..sources.places import synthetic_tile
from ..sources.testdata import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def m9_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold the staged changelog (create/edit/delete) and project the
    snapshot; differential for apply_operations (M9).

    block 0: every order creates ``{"status": ..., "lines": {}}``;
    block 1: every lineitem edits ``lines.{linenumber} := quantity``;
    block 2: 'F'-status orders are deleted.

    The log is read from the block-partitioned staged layout (see
    ``_oplog_stage``) — the reference's op log IS a stored table
    (OpBlockChain persisted block by block, OpBlockchainRules.java
    block replay), so the fold's input is a parquet scan, not an
    on-the-fly reshape of the driver tables.
    """
    return _fold_and_project(spark, spark.read.parquet(
        _oplog_stage(spark, sf_dir)))


def _synthetic_oplog(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    oid = F.col("o_orderkey").cast("string").alias("obj_id")
    creates = orders.select(
        oid, F.lit(0).alias("block_id"), F.lit(0).alias("op_seq"),
        F.lit("create").alias("action"),
        F.to_json(F.struct(F.col("o_orderstatus").alias("status"))).alias("doc"),
        F.lit(None).cast("string").alias("change"),
    )
    # In-batch edit dedup (operator A7: the reference dedups edits per
    # operation before publishing) — the synthetic data has duplicate
    # (orderkey, linenumber) pairs, and last-wins between identical
    # (block, seq) keys would be shuffle-order-dependent.
    edits = (
        lineitem.groupBy("l_orderkey", "l_linenumber")
        .agg(F.max("l_quantity").alias("qty"))
        .select(
            F.col("l_orderkey").cast("string").alias("obj_id"),
            F.lit(1).alias("block_id"),
            F.col("l_linenumber").cast("long").alias("op_seq"),
            F.lit("edit").alias("action"),
            F.lit(None).cast("string").alias("doc"),
            F.format_string('{"lines.{%d}": {"set": %d}}',
                            F.col("l_linenumber"),
                            F.col("qty").cast("int")).alias("change"),
        )
    )
    deletes = orders.where(F.col("o_orderstatus") == "F").select(
        oid, F.lit(2).alias("block_id"), F.lit(0).alias("op_seq"),
        F.lit("delete").alias("action"),
        F.lit(None).cast("string").alias("doc"),
        F.lit(None).cast("string").alias("change"),
    )
    return creates.unionByName(edits).unionByName(deletes)


def _oplog_stage(spark: SparkSession, sf_dir: str) -> str:
    """Write-once staged op log, hive-partitioned by ``block_id``
    (``block_id=<n>/`` dirs) — the storage layout a 100 TB versioned
    object log lives in (the reference persists OpBlockChain block by
    block; a block IS a partition).  Keyed on BOTH source parquets'
    mtime+size (stale-cache rule: driver testdata drifts between
    rounds).  Returns the layout directory; readers scan parquet and
    as-of readers get metadata-time partition pruning for free."""
    fp = (f"{staging.source_fingerprint(sf_dir, 'orders')}_"
          f"{staging.source_fingerprint(sf_dir, 'lineitem')}")
    base = os.path.basename(os.path.normpath(sf_dir))
    root = staging.stage_root()
    name = f"oplog_{base}_{fp}"
    data_dir = os.path.join(root, name, "data")
    if not os.path.isfile(os.path.join(data_dir, "_SUCCESS")):
        (_synthetic_oplog(spark, sf_dir)
         .write.mode("overwrite").partitionBy("block_id")
         .parquet(data_dir))
    # every other fingerprint of this sf is a superseded full op-log
    # copy leaking on /tmp (r12 ADVICE); prune on EVERY access so a
    # sibling that was too young at build time still ages out (r13
    # review)
    staging.prune_stale_siblings(root, f"oplog_{base}_", name)
    return data_dir


def m11_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53 time-travel read of the versioned op log: the SAME fold as
    ``m9_apply_changelog`` restricted to ``block_id <= 1`` — the state
    as of block 1, BEFORE block 2's deletes ran (the reference's object
    log is versioned by block and historical state is re-derivable from
    a block-bounded fold, OpBlockChain semantics).  The as-of predicate
    lands in the staged layout's scan as a PartitionFilter — block 2's
    directory is pruned at metadata time, before any IO or shuffle
    (tests/test_changelog.py::test_m11_asof_prunes_block_partitions
    asserts the filter reaches the scan node) — so time travel costs a
    partition filter, not a second copy of the data."""
    ops = (spark.read.parquet(_oplog_stage(spark, sf_dir))
           .where(F.col("block_id") <= 1))
    return _fold_and_project(spark, ops)


def _fold_and_project(spark: SparkSession, ops: DataFrame) -> DataFrame:
    """Fold an ops stream from the empty state and project the
    (obj_id, status, n_lines, sum_qty) snapshot summary."""
    empty = spark.createDataFrame([], "obj_id string, doc string")
    snapshot = C.apply_operations(empty, ops)
    parsed = snapshot.select(
        "obj_id",
        F.from_json("doc", "struct<status:string, lines:map<string,long>>").alias("d"),
    )
    return parsed.select(
        "obj_id",
        F.col("d.status").alias("status"),
        F.coalesce(F.size("d.lines"), F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(
            F.aggregate(F.map_values("d.lines"), F.lit(0).cast("long"),
                        lambda acc, x: acc + x),
            F.lit(0).cast("long"),
        ).alias("sum_qty"),
    )


def e9_extract_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-extract between two SQL-derivable order snapshots (E1).

    old = all orders as ``{"status": s}``; new = orders over 100k, with
    status forced to 'X' over 400k, plus synthetic 'n<key>' creations
    over 480k.  Expected actions are a pure CASE expression.
    """
    orders = _t(spark, sf_dir, "orders")
    doc = F.to_json(F.struct(F.col("o_orderstatus").alias("status")))
    old = orders.select(F.col("o_orderkey").cast("string").alias("obj_id"),
                        doc.alias("doc"))
    kept = orders.where(F.col("o_totalprice") > 100000).select(
        F.col("o_orderkey").cast("string").alias("obj_id"),
        F.to_json(F.struct(
            F.when(F.col("o_totalprice") > 400000, F.lit("X"))
            .otherwise(F.col("o_orderstatus")).alias("status"))).alias("doc"),
    )
    created = orders.where(F.col("o_totalprice") > 480000).select(
        F.concat(F.lit("n"), F.col("o_orderkey").cast("string")).alias("obj_id"),
        F.to_json(F.struct(F.lit("NEW").alias("status"))).alias("doc"),
    )
    new = kept.unionByName(created)
    return C.extract_diff(old, new).select("obj_id", "action", "change")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "m9_apply_changelog": m9_apply_changelog,
    "m11_asof_snapshot": m11_asof_snapshot,
    "e9_extract_diff": e9_extract_diff,
}

ORACLES: dict[str, str] = {
    "m9_apply_changelog": """
        WITH dedup AS (
            SELECT l_orderkey, l_linenumber, MAX(l_quantity) AS qty
            FROM lineitem GROUP BY l_orderkey, l_linenumber
        )
        SELECT CAST(o.o_orderkey AS VARCHAR) AS obj_id,
               o.o_orderstatus AS status,
               COUNT(l.l_linenumber) AS n_lines,
               COALESCE(CAST(SUM(l.qty) AS BIGINT), 0) AS sum_qty
        FROM orders o LEFT JOIN dedup l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus <> 'F'
        GROUP BY o.o_orderkey, o.o_orderstatus
    """,
    # as of block 1 the deletes haven't run: every order is live
    "m11_asof_snapshot": """
        WITH dedup AS (
            SELECT l_orderkey, l_linenumber, MAX(l_quantity) AS qty
            FROM lineitem GROUP BY l_orderkey, l_linenumber
        )
        SELECT CAST(o.o_orderkey AS VARCHAR) AS obj_id,
               o.o_orderstatus AS status,
               COUNT(l.l_linenumber) AS n_lines,
               COALESCE(CAST(SUM(l.qty) AS BIGINT), 0) AS sum_qty
        FROM orders o LEFT JOIN dedup l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderstatus
    """,
    "e9_extract_diff": """
        SELECT CAST(o_orderkey AS VARCHAR) AS obj_id,
               'delete' AS action, CAST(NULL AS VARCHAR) AS change
        FROM orders WHERE o_totalprice <= 100000
        UNION ALL
        SELECT CAST(o_orderkey AS VARCHAR), 'edit',
               '{"status": {"set": "X"}}'
        FROM orders WHERE o_totalprice > 400000 AND o_orderstatus <> 'X'
        UNION ALL
        SELECT 'n' || CAST(o_orderkey AS VARCHAR), 'create',
               CAST(NULL AS VARCHAR)
        FROM orders WHERE o_totalprice > 480000
    """,
}


def m1m4_sync_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM sync op generation (M1-M4 + J1 lookup) over the synthetic
    corpus; every branch is predictable in SQL:

    entities = customers with even keys, version bumped (+1) and, for
    k%9==0, a changed name.  Against `synthetic_places`:
    - k%13==0 → the entity's osm id only exists on a deleted ref →
      unmatched → M1 create;
    - k%9==0 (matched) → match-id change → M3 tombstone + M1 create;
    - otherwise → M2 edit setting only the bumped version.
    """
    from ..operators import osm_sync
    from ..sources import places as P

    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    name = F.when(k % 9 == 0, F.concat(F.lit("X "), F.col("c_name"))) \
            .otherwise(F.col("c_name"))
    entities = c.where(k % 2 == 0).select(
        F.lit("node").alias("entity_type"),
        k.cast("long").alias("id"),
        F.expr(P.synthetic_lat(SPARK)).alias("lat"),
        F.expr(P.synthetic_lon(SPARK)).alias("lon"),
        F.create_map(F.lit("name"), name,
                     F.lit("amenity"), F.lower("c_mktsegment")).alias("tags"),
        (2 + k % 5).cast("int").alias("version"),
        F.lit("2021-01-01T00:00:00").alias("timestamp"),
    )
    places = P.synthetic_places(spark, sf_dir)
    ops = osm_sync.generate_sync_ops(entities, places)
    return ops.select("obj_id", "action", "change")


QUERIES["m1m4_sync_ops"] = m1m4_sync_ops

_SYNC_TILE = synthetic_tile(DUCKDB)

ORACLES["m1m4_sync_ops"] = f"""
    WITH ent AS (
        SELECT c_custkey AS k,
               {_SYNC_TILE} AS tile,
               substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS place_sfx,
               substr(md5('node:' || CAST(c_custkey AS VARCHAR)), 1, 6)
                   AS new_sfx,
               CAST(2 + c_custkey % 5 AS VARCHAR) AS new_ver
        FROM customer WHERE c_custkey % 2 = 0
    )
    -- M2: plain version edit (matched, same match-id)
    SELECT tile || ',' || place_sfx AS obj_id, 'edit' AS action,
           '{{"source.osm[0].version": {{"set": "' || new_ver || '"}}}}'
               AS change
    FROM ent WHERE k % 13 != 0 AND k % 9 != 0
    UNION ALL
    -- M3: tombstone on the old place (match-id changed)
    SELECT tile || ',' || place_sfx, 'edit',
           '{{"source.osm[0].deleted": {{"set": "2021-06-01T00:00:00"}}}}'
    FROM ent WHERE k % 13 != 0 AND k % 9 = 0
    UNION ALL
    -- M1: create (unmatched entity, or re-create after match-id change)
    SELECT tile || ',' || new_sfx, 'create', CAST(NULL AS VARCHAR)
    FROM ent WHERE k % 13 = 0 OR k % 9 = 0
"""
