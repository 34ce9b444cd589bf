"""Batch OSM sync pipeline (OsmSyncBot semantics, SURVEY.md §3.3).

The reference's ingest bot pulls entities from Overpass, looks each up
against the place store by OSM id (keeping the max-version match),
then emits create / field-diff edit / tombstone / re-create operations
batched 250 places per op and 16 ops per block
(``OsmSyncBot.java:413-449,644-719``; ``PlaceOpObjectHelper.java``).

Spark-first decomposition over a staging `entities` DataFrame and the
nested `places` corpus:

- ``osm_id_lookup`` (J1/A6): explode ``source.osm`` into a lookup side
  keyed on (osm_id, type, osm_tag), join staging, keep the max-version
  match per entity via one window.  At 100 TB the exploded lookup is
  the materialized secondary index (SURVEY.md §1.6) — bucketed by
  osm_id, the join is shuffle-free;
- ``match_id`` (the bot's logical identity expression
  ``opr:place_loc(6,...) + osm_tag + osm_value + simple_name`` —
  ``opr-0-web-bot.json:19``, ``OprExprEvaluatorExt.java:59-78``);
- ``generate_sync_ops`` (M1-M4): unmatched → create; matched with equal
  match-id → field diff edit (E1 kernel); changed match-id → tombstone
  old ref + create new place (the op pair of ``OsmSyncBot.java:696-709``);
- ``pack_operations`` (S14): deterministic batching into operations and
  blocks with two chained window computations (no driver loop);
- ``placetype_ops`` (M8/P8) and ``migrate_old_ids_ops`` (M7) bot passes.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import geo
from ..functions.dialect import SPARK
from ..functions.text import simple_name

#: reference batching policy (opr-osm.json:29-31)
PLACES_PER_OPERATION = 250
OPERATIONS_PER_BLOCK = 16


def match_id(lat: str, lon: str, osm_tag: Column, osm_value: Column,
             name: Column) -> Column:
    """The bot's logical place identity: (6-char tile, tag, value,
    simple name) — set:all(opr:place_loc(6,.lat,.lon), .osm_tag,
    .osm_value, opr:simple_name(.tags.name)).  ``lat``/``lon`` are
    column names."""
    return F.concat_ws(
        "|", F.expr(geo.olc_encode(SPARK, lat, lon, 6)), osm_tag, osm_value,
        F.coalesce(simple_name(name), F.lit("")))


def explode_osm_index(places: DataFrame) -> DataFrame:
    """The secondary-index side of J1: one row per live source.osm ref
    — (osm_id, osm_type, osm_tag, version, tile_id, suffix, ref_idx,
    ref).  Deleted refs are excluded (OsmSyncBot.java:424-430)."""
    exploded = places.select(
        "tile_id", "suffix",
        F.posexplode("source.osm").alias("ref_idx", "ref"))
    return (
        exploded.where(F.col("ref.deleted").isNull())
        .select("tile_id", "suffix", "ref_idx",
                F.col("ref.id").alias("osm_id"),
                F.col("ref.type").alias("osm_type"),
                F.col("ref.osm_tag").alias("osm_tag"),
                F.col("ref.version").cast("int").alias("ref_version"),
                F.col("ref").alias("ref"))
    )


def osm_id_lookup(entities: DataFrame, places: DataFrame,
                  osm_tag: str = "amenity") -> DataFrame:
    """J1: entity ↔ existing place on (osm id, entity type, tag),
    max-version match wins (argmax window, OsmSyncBot.java:434-444).

    Returns the staging frame + (tile_id, suffix, ref_idx, old_ref)
    columns (null when unmatched)."""
    idx = explode_osm_index(places).where(F.col("osm_tag") == osm_tag)
    joined = entities.join(
        idx,
        on=[entities["id"] == idx["osm_id"],
            entities["entity_type"] == idx["osm_type"]],
        how="left")
    w = Window.partitionBy(entities["id"], entities["entity_type"]).orderBy(
        F.desc_nulls_last("ref_version"),
        F.asc_nulls_last("tile_id"), F.asc_nulls_last("suffix"))
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk", "osm_id", "osm_type", "osm_tag", "ref_version")
    )


def generate_sync_ops(entities: DataFrame, places: DataFrame,
                      osm_tag: str = "amenity",
                      now_iso: str = "2021-06-01T00:00:00") -> DataFrame:
    """M1-M4 over a staging batch: returns changelog rows (obj_id,
    block_id=0, op_seq, action, doc, change) consumable by
    ``apply_operations``.

    - unmatched entity → M1 create (deterministic id: tile +
      md5-derived suffix — SURVEY.md §7 deterministic-id mode);
    - matched, same match-id → M2 edit if any field differs (E1 diff on
      the osm ref subtree), no-op otherwise;
    - matched, changed match-id → M4: tombstone the old ref (M3) on the
      old place and create a replacement place.
    """
    import pandas as pd

    looked = osm_id_lookup(entities, places, osm_tag)
    ent_mid = match_id("lat", "lon", F.lit(osm_tag),
                       F.col("tags")[osm_tag], F.col("tags")["name"])
    old_mid = match_id("ref.lat", "ref.lon",
                       F.lit(osm_tag), F.col("ref.osm_value"),
                       F.col("ref.tags")["name"])
    staged = looked.select(
        "entity_type", "id", "lat", "lon", "tags", "timestamp",
        F.col("version").alias("entity_version"),
        "tile_id", "suffix", "ref_idx",
        F.col("ref").alias("old_ref"),
        ent_mid.alias("new_mid"),
        F.when(F.col("ref").isNotNull(), old_mid).alias("old_mid"),
        F.expr(geo.olc_encode(SPARK, "lat", "lon", 6)).alias("new_tile"),
        F.substring(F.md5(F.concat_ws(":", "entity_type", "id")), 1, 6)
        .alias("new_suffix"),
    )

    schema = ("obj_id string, block_id long, op_seq long, action string, "
              "doc string, change string")

    def gen(batches):
        from .changelog import generate_diff

        for pdf in batches:
            rows = {k: [] for k in ("obj_id", "block_id", "op_seq",
                                    "action", "doc", "change")}

            def emit(oid, seq, action, doc=None, change=None):
                rows["obj_id"].append(oid)
                rows["block_id"].append(0)
                rows["op_seq"].append(int(seq))
                rows["action"].append(action)
                rows["doc"].append(doc)
                rows["change"].append(change)

            for i, r in enumerate(pdf.to_dict("records")):
                tags = dict(r["tags"] or {})
                new_ref = {
                    "id": int(r["id"]), "type": r["entity_type"],
                    "osm_tag": osm_tag, "osm_value": tags.get(osm_tag),
                    "tags": tags, "lat": r["lat"], "lon": r["lon"],
                    "version": str(r["entity_version"])
                    if r.get("entity_version") is not None else None,
                    "timestamp": r["timestamp"],
                }
                new_doc = {"source": {"osm": [new_ref]},
                           "placetype": tags.get(osm_tag)}
                if r["tile_id"] is None:
                    # M1 create
                    emit(f'{r["new_tile"]},{r["new_suffix"]}', i, "create",
                         doc=json.dumps(new_doc, sort_keys=True,
                                        ensure_ascii=False))
                    continue
                obj_id = f'{r["tile_id"]},{r["suffix"]}'
                prefix = f'source.osm[{int(r["ref_idx"])}]'
                if r["new_mid"] == r["old_mid"]:
                    # M2 field diff on the matched ref
                    old_ref = dict(r["old_ref"].asDict(recursive=True)
                                   if hasattr(r["old_ref"], "asDict")
                                   else r["old_ref"])
                    old_cmp = {k: v for k, v in old_ref.items()
                               if k in new_ref and v is not None}
                    new_cmp = {k: v for k, v in new_ref.items()
                               if v is not None}
                    change, _cur = generate_diff(old_cmp, new_cmp)
                    change = {f"{prefix}.{p}": op for p, op in change.items()}
                    if change:
                        emit(obj_id, i, "edit",
                             change=json.dumps(change, sort_keys=True,
                                               ensure_ascii=False))
                else:
                    # M4: tombstone old ref (M3) + re-create
                    emit(obj_id, i, "edit", change=json.dumps(
                        {f"{prefix}.deleted": {"set": now_iso}},
                        ensure_ascii=False))
                    emit(f'{r["new_tile"]},{r["new_suffix"]}', i, "create",
                         doc=json.dumps(new_doc, sort_keys=True,
                                        ensure_ascii=False))
            yield pd.DataFrame(rows)

    return staged.mapInPandas(gen, schema=schema)


def pack_operations(ops: DataFrame,
                    places_per_op: int = PLACES_PER_OPERATION,
                    ops_per_block: int = OPERATIONS_PER_BLOCK) -> DataFrame:
    """S14: assign changelog rows to operations (≤250 places) and blocks
    (≤16 operations) deterministically, ordered by (obj_id, op_seq).

    The global rank over the total (obj_id, op_seq) order is computed
    DISTRIBUTED (``operators.ordered.global_row_index``: range
    partition → per-partition rank → broadcast offsets), so packing a
    totally ordered log never funnels through one task; then
    op_no = idx div 250, block_no = op_no div 16."""
    from .ordered import global_row_index

    idxed = global_row_index(ops, ["obj_id", "op_seq"], "_idx")
    return (
        idxed.withColumn("op_no",
                         (F.col("_idx") / places_per_op).cast("long"))
        .withColumn("block_no",
                    (F.col("op_no") / ops_per_block).cast("long"))
        .drop("_idx")
    )


def placetype_ops(places: DataFrame) -> DataFrame:
    """M8/P8: placetype := main osm_value, as edit ops only for places
    where it actually changed (PlaceTypeBot.java:25-52)."""
    live = F.filter(F.col("source.osm"), lambda x: x["deleted"].isNull())
    main = F.coalesce(F.try_element_at(live, F.lit(1)),
                      F.try_element_at(F.col("source.osm"), F.lit(1)))
    return (
        places.withColumn("new_pt", main["osm_value"])
        .where(~F.col("new_pt").eqNullSafe(F.col("placetype")))
        .select(
            F.concat_ws(",", "tile_id", "suffix").alias("obj_id"),
            F.lit(0).cast("long").alias("block_id"),
            F.lit(0).cast("long").alias("op_seq"),
            F.lit("edit").alias("action"),
            F.lit(None).cast("string").alias("doc"),
            F.to_json(F.create_map(
                F.lit("placetype"),
                F.struct(F.col("new_pt").alias("set")))).alias("change"),
        )
    )


def migrate_old_ids_ops(docs: DataFrame, now_iso: str,
                        id_col: str = "obj_id",
                        doc_col: str = "doc") -> DataFrame:
    """M7: move ``source.old-osm-ids[]`` into ``source.osm[]`` with a
    tombstone and delete the legacy field
    (MigrateOldOsmPlaceIdsBot.java:40-70).  Documents travel as JSON."""
    import pandas as pd

    schema = ("obj_id string, block_id long, op_seq long, action string, "
              "doc string, change string")

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in ("obj_id", "block_id", "op_seq",
                                    "action", "doc", "change")}
            for oid, raw in zip(pdf[id_col], pdf[doc_col]):
                doc = json.loads(raw)
                old = (doc.get("source") or {}).get("old-osm-ids") or []
                if not old:
                    continue
                moved = [{**ref, "deleted": now_iso} for ref in old]
                change = {
                    "source.osm": {"appendmany": moved},
                    "source.{old-osm-ids}": "delete",
                }
                rows["obj_id"].append(oid)
                rows["block_id"].append(0)
                rows["op_seq"].append(0)
                rows["action"].append("edit")
                rows["doc"].append(None)
                rows["change"].append(json.dumps(change, ensure_ascii=False))
            yield pd.DataFrame(rows)

    return docs.select(F.col(id_col), F.col(doc_col)).mapInPandas(
        gen, schema=schema)