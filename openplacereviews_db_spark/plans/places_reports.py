"""The reference's public geo report queries over the place corpus.

Spark-first re-expressions of the three GeoJSON endpoints registered in
``OpenPlaceReviewsDbBoot.java:122-127`` (SURVEY.md §3):

- ``geo``    (§3.1): tile index scan S8 + live filter P1 + feature
  projection P3 (``BaseOprPlaceDataProvider.java:202-301``);
- ``geoall`` (A1): keys-only scan S7 → 4-char area counts with OLC
  cell centers (``OprSummaryPlaceDataProvider.java:26-59``);
- main-element selection P2 over the real nested document
  (``MergeUtil.java:209-229``).

All three run on the deterministic synthetic corpus
(`sources.places.synthetic_places`) whose flat mirror is a DuckDB CTE —
so each plan is value-hash-checked against an oracle, OLC tiles
included.

Scale notes: the corpus is blocked by ``tile_id``; `geo` is a
partition-pruned scan (tile prefix), `geoall` a single partial-agg
shuffle on the 4-char prefix.  Nothing here shuffles the nested
payload — projections happen before the exchange.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo
from ..functions import geometry as GM
from ..functions.dialect import DUCKDB, SPARK
from ..sources import places as P
from ..sources.testdata import load_table

#: the geo report's demo tile prefix: the 2-char OLC area of customer 42
#: (deterministic; computed with the same closed form as the corpus)
GEO_AREA_PREFIX = geo.olc_encode_py(
    P.synthetic_lat_py(42), P.synthetic_lon_py(42), 2)


def _cap_first(col):
    """``OUtils.capitalizeFirstLetter``: first char upper, rest verbatim
    (NOT initcap — only the first letter changes)."""
    return F.concat(F.upper(F.substring(col, 1, 1)),
                    F.substring(col, 2, 2 ** 31 - 1))


def _placetype_label(osm_tag, osm_value):
    """``placeTypes()`` label (BaseOprPlaceDataProvider.java:161-200):
    ``capFirst(tag) + " - " + capFirst(value).replace('_', ' ')`` — the
    engine treats every corpus placetype as bot-configured, so the map
    lookup reduces to the label formula."""
    return F.concat(_cap_first(osm_tag), F.lit(" - "),
                    F.replace(_cap_first(osm_value), F.lit("_"), F.lit(" ")))


def _source_el_json(x, i):
    """One ``sources`` feature row, serialized exactly like the
    reference builds it (BaseOprPlaceDataProvider.java:254-296: property
    order source_type, source_ind, id, type, version, changeset, lat,
    lon, deleted, tags; null keys omitted — changeset is always null in
    this corpus).  Built with explicit formatting (not ``to_json``) so
    the DuckDB oracle can produce the identical bytes."""
    return F.concat(
        F.lit('{"source_type":"osm","source_ind":'), i.cast("string"),
        F.lit(',"id":'), x["id"].cast("string"),
        F.lit(',"type":"'), x["type"], F.lit('"'),
        F.lit(',"version":"'), x["version"], F.lit('"'),
        F.lit(',"lat":'), F.format_string("%.2f", x["lat"]),
        F.lit(',"lon":'), F.format_string("%.2f", x["lon"]),
        F.coalesce(F.concat(F.lit(',"deleted":"'), x["deleted"],
                            F.lit('"')), F.lit("")),
        F.lit(',"tags":{"name":"'), x["tags"]["name"],
        F.lit('","amenity":"'), x["tags"]["amenity"], F.lit('"}}'),
    )


def geo_tile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`geo` endpoint (§3.1): live places of one OLC area, projected to
    the FULL feature property set of the reference
    (``BaseOprPlaceDataProvider.java:211-301``):

    - main element = first live source.osm ref, falling back to the
      first ref (``MergeUtil.getMainOsmFromList``, :209-229);
    - title falls back to the subtitle when the main element has no
      name tag (:326-334); subtitle is the placeTypes() label (:335-341);
    - images_size / img_review_size inline counts (:227-238);
    - place_deleted / place_deleted_osm flags (:222-224, :239-243 —
      NULL for every row this filtered endpoint emits, via the same
      expressions the unfiltered corpus would use);
    - has_tripadvisor (:258-260) — true when the place carries
      ``source.tripAdvisor`` entries (populated for the k%9 slice of
      the synthetic corpus; enrichment ops in m10_tripadvisor_ops);
    - sources: one serialized row per source ref (:254-296), and the
      aggregated main-tags map (:261-285), both as deterministic JSON
      strings (scalar columns — the driver canonicalizer requirement).

    The tile filter hits the corpus' blocking key, so at scale this is a
    partition-pruned scan (S8) — no shuffle at all; the projection (P3)
    runs entirely map-side, including the nested main-element selection.
    """
    pl = P.synthetic_places(spark, sf_dir)
    live_refs = F.filter(F.col("source.osm"), lambda x: x["deleted"].isNull())
    main = F.coalesce(F.try_element_at(live_refs, F.lit(1)),
                      F.try_element_at(F.col("source.osm"), F.lit(1)))
    rev = F.element_at(F.col("images"), F.lit("review"))
    subtitle = _placetype_label(F.col("main.osm_tag"), F.col("main.osm_value"))
    first_live = F.try_element_at(live_refs, F.lit(1))
    main_tags_json = F.concat(
        F.lit('{"name":{"value":"'), first_live["tags"]["name"],
        F.lit('","source":"osm"},"amenity":{"value":"'),
        first_live["tags"]["amenity"], F.lit('","source":"osm"}}'))
    return (
        pl.where(F.col("tile_id").startswith(GEO_AREA_PREFIX))
        .where(F.col("deleted").isNull())  # P1 live filter
        .withColumn("main", main)
        .select(
            F.concat_ws(",", "tile_id", "suffix").alias("opr_id"),
            F.col("main.lat").alias("lat"),
            F.col("main.lon").alias("lon"),
            F.col("main.id").alias("main_osm_id"),
            F.coalesce(F.col("main.tags")["name"], subtitle).alias("title"),
            subtitle.alias("subtitle"),
            F.col("main.osm_value").alias("place_type"),
            F.size("source.osm").cast("int").alias("n_sources"),
            F.aggregate(F.map_values("images"), F.lit(0),
                        lambda a, v: a + F.size(v)).cast("int")
            .alias("images_size"),
            F.when(rev.isNotNull(), F.size(rev)).cast("int")
            .alias("img_review_size"),
            F.col("deleted").alias("place_deleted"),
            F.when(F.col("main.deleted").isNotNull(), F.lit("deleted"))
            .alias("place_deleted_osm"),
            F.coalesce(F.size("source.tripAdvisor") > 0, F.lit(False))
            .alias("has_tripadvisor"),
            F.concat(F.lit("["),
                     F.array_join(F.transform(F.col("source.osm"),
                                              _source_el_json), ","),
                     F.lit("]")).alias("sources_json"),
            main_tags_json.alias("main_tags_json"),
        )
    )


def geoall_area_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`geoall` (A1): count of live places per 4-char OLC area + decoded
    area centers.  Keys-only scan (S7): only tile_id/deleted are read —
    column pruning reaches the parquet scan."""
    pl = P.synthetic_places(spark, sf_dir).select("tile_id", "deleted")
    area = F.substring("tile_id", 1, 4)
    clat, clon = map(F.expr, geo.olc_decode_center(SPARK, "area", 4))
    return (
        pl.where(F.col("deleted").isNull())
        .select(area.alias("area"))
        .groupBy("area")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("area", "cnt", clat.alias("center_lat"), clon.alias("center_lon"))
    )


def p2_main_osm_element(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 over the real nested document: first non-deleted source.osm
    element, falling back to the first element (MergeUtil.java:209-229)."""
    pl = P.synthetic_places(spark, sf_dir)
    live_refs = F.filter(F.col("source.osm"), lambda x: x["deleted"].isNull())
    main = F.coalesce(F.try_element_at(live_refs, F.lit(1)),
                      F.try_element_at(F.col("source.osm"), F.lit(1)))
    return pl.select(
        F.concat_ws(",", "tile_id", "suffix").alias("opr_id"),
        main["id"].alias("main_osm_id"),
        main["version"].alias("main_version"),
        F.size("source.osm").cast("int").alias("n_sources"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "geo_tile_report": geo_tile_report,
    "geoall_area_summary": geoall_area_summary,
    "p2_main_osm_element": p2_main_osm_element,
}

_DECODE_LAT4, _DECODE_LON4 = geo.olc_decode_center(DUCKDB, "area", 4)

def _cap_first_sql(expr: str) -> str:
    """SQL mirror of ``_cap_first`` (capitalizeFirstLetter, not initcap)."""
    return f"(upper(substr({expr}, 1, 1)) || substr({expr}, 2))"


#: SQL mirror of ``_placetype_label``, derived from the SAME formula the
#: Spark side uses — capFirst(osm_tag) || ' - ' ||
#: replace(capFirst(value), '_', ' ') with the replace over the WHOLE
#: capitalized value, so parity holds even if the synthetic corpus ever
#: gains a second placetype tag or a value starting with '_'.  osm_tag
#: is the generator's literal 'amenity' (sources/places.py:131).
_CAP_TAG = _cap_first_sql("'amenity'")
_CAP_VALUE = _cap_first_sql("placetype")
_SUBTITLE_SQL = (_CAP_TAG + " || ' - ' || "
                 "replace(" + _CAP_VALUE + ", '_', ' ')")


def _src_el_sql(id_expr: str, ind: int, dead: bool) -> str:
    """SQL mirror of ``_source_el_json`` for one synthetic osm ref —
    byte-identical property order and formatting."""
    deleted = (f"',\"deleted\":\"{P.DELETED_OSM_TS}\"' || " if dead else "")
    return ("'{\"source_type\":\"osm\",\"source_ind\":" + str(ind) +
            ",\"id\":' || CAST(" + id_expr + " AS VARCHAR) || "
            "',\"type\":\"node\",\"version\":\"' || version || "
            "'\",\"lat\":' || printf('%.2f', lat) || "
            "',\"lon\":' || printf('%.2f', lon) || " + deleted +
            "',\"tags\":{\"name\":\"' || name || "
            "'\",\"amenity\":\"' || placetype || '\"}}'")


ORACLES: dict[str, str] = {
    "geo_tile_report": f"""
        WITH {P.places_sql_cte()}
        SELECT tile_id || ',' || suffix AS opr_id,
               lat, lon,
               main_osm_id,
               name AS title,
               {_SUBTITLE_SQL} AS subtitle,
               placetype AS place_type,
               n_osm AS n_sources,
               CAST(key % 3 + key % 2 AS INTEGER) AS images_size,
               CAST(CASE WHEN key % 2 = 1 THEN 1 END AS INTEGER)
                   AS img_review_size,
               deleted AS place_deleted,
               CAST(NULL AS VARCHAR) AS place_deleted_osm,
               (key % 9 = 0) AS has_tripadvisor,
               CASE WHEN key % 13 = 0
                    THEN '[' || {_src_el_sql("key", 0, True)} || ',' ||
                         {_src_el_sql("key + 5000000", 1, False)} || ']'
                    WHEN key % 7 = 0
                    THEN '[' || {_src_el_sql("key", 0, False)} || ',' ||
                         {_src_el_sql("key + 5000000", 1, True)} || ']'
                    ELSE '[' || {_src_el_sql("key", 0, False)} || ']'
               END AS sources_json,
               '{{"name":{{"value":"' || name ||
               '","source":"osm"}},"amenity":{{"value":"' || placetype ||
               '","source":"osm"}}}}' AS main_tags_json
        FROM places
        WHERE tile_id LIKE '{GEO_AREA_PREFIX}%' AND deleted IS NULL
    """,
    "geoall_area_summary": f"""
        WITH {P.places_sql_cte()},
        areas AS (
            SELECT substr(tile_id, 1, 4) AS area, COUNT(*) AS cnt
            FROM places WHERE deleted IS NULL GROUP BY 1
        )
        SELECT area, cnt, {_DECODE_LAT4} AS center_lat,
               {_DECODE_LON4} AS center_lon
        FROM areas
    """,
    "p2_main_osm_element": f"""
        WITH {P.places_sql_cte()}
        SELECT tile_id || ',' || suffix AS opr_id,
               main_osm_id,
               version AS main_version,
               n_osm AS n_sources
        FROM places
    """,
}


def p12_mercator_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mercator (slippy-map) tiling of the live corpus at z12 — pure
    column arithmetic (geometry kit), counted per tile."""
    pl = P.synthetic_places(spark, sf_dir).where(F.col("deleted").isNull())
    return (
        pl.select(F.expr(GM.mercator_tile_x(SPARK, "lon", 12)).alias("tx"),
                  F.expr(GM.mercator_tile_y(SPARK, "lat", 12)).alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def g3_tile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 tile-grid generation (BotPlacePublisherTest.java:34-55 analog):
    a fixed 36×18 world grid from sequence()+explode, left-joined with
    per-cell live place counts (empty cells kept, cnt 0)."""
    grid = (
        spark.range(1)
        .select(F.explode(F.sequence(F.lit(0), F.lit(35))).alias("gx"))
        .crossJoin(spark.range(1).select(
            F.explode(F.sequence(F.lit(0), F.lit(17))).alias("gy")))
    )
    pl = P.synthetic_places(spark, sf_dir).where(F.col("deleted").isNull())
    counts = (
        pl.select(F.floor((F.col("lon") + 180.0) / 10.0).cast("int").alias("gx"),
                  F.floor((F.col("lat") + 90.0) / 10.0).cast("int").alias("gy"))
        .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        grid.join(counts, on=["gx", "gy"], how="left")
        .select("gx", "gy", F.coalesce("n", F.lit(0)).alias("cnt"))
    )


def g7_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) spatial layout key over the live corpus: the
    32-bit interleave of 16-bit-quantized (lon, lat), summarized per
    4096-cell prefix (top 12 bits) with the min/max z per cell — the
    min/max pair IS what parquet column stats would hold per file after
    a ZORDER rewrite, i.e. the data-skipping index a bbox scan probes.
    Quantized coords are projected to columns first; the interleave
    references them 32 times (plan-size discipline)."""
    pl = P.synthetic_places(spark, sf_dir).where(F.col("deleted").isNull())
    q = pl.select(
        F.expr(GM.zorder_quantize_lon(SPARK, "lon")).alias("qx"),
        F.expr(GM.zorder_quantize_lat(SPARK, "lat")).alias("qy"))
    z = q.select(F.expr(GM.zorder_interleave(SPARK, "qx", "qy")).alias("z"))
    return (
        z.groupBy(F.shiftright(F.col("z"), 20).alias("zcell"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("z").alias("min_z"),
             F.max("z").alias("max_z"))
    )


#: bbox of the g8 z-cell scan demo (lat0, lat1, lon0, lon1)
_G8_BBOX = (10.0, 35.0, 40.0, 95.0)


def _g8_cover_cells() -> list[int]:
    """The 12-bit z-cell cover of ``_G8_BBOX``: enumerate the 64x64
    coarse grid cells whose quantized ranges intersect the bbox and
    interleave their top-6-bit coords — a bounded driver-side
    computation (<= 4096 ints) that stands in for the query planner's
    file-stats pruning step."""
    lat0, lat1, lon0, lon1 = _G8_BBOX

    def qlon(v: float) -> int:
        return min(65535, max(0, int((v + 180.0) * 65536.0 / 360.0)))

    def qlat(v: float) -> int:
        return min(65535, max(0, int((v + 90.0) * 65536.0 / 180.0)))

    cx0, cx1 = qlon(lon0) >> 10, qlon(lon1) >> 10
    cy0, cy1 = qlat(lat0) >> 10, qlat(lat1) >> 10

    def interleave6(x: int, y: int) -> int:
        z = 0
        for i in range(6):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    return sorted(interleave6(cx, cy)
                  for cx in range(cx0, cx1 + 1)
                  for cy in range(cy0, cy1 + 1))


def g8_zcell_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bbox query answered THROUGH the Z-order layout: the bbox is
    decomposed into its 12-bit z-cell cover (the file-pruning step a
    lakehouse runs against per-file min/max stats after a ZORDER
    rewrite), rows are pre-filtered by ``zcell IN cover``, and the
    exact bbox predicate verifies the survivors.  The cover is a
    provable superset, so the result equals the plain bbox filter —
    which is exactly what the oracle runs, proving the pruning loses
    nothing.  Aggregated to (placetype, n, n_deleted) per the report
    shape."""
    lat0, lat1, lon0, lon1 = _G8_BBOX
    pl = P.synthetic_places(spark, sf_dir)
    q = pl.select(
        "placetype", "deleted", "lat", "lon",
        F.expr(GM.zorder_quantize_lon(SPARK, "lon")).alias("qx"),
        F.expr(GM.zorder_quantize_lat(SPARK, "lat")).alias("qy"))
    z = q.withColumn("zcell", F.expr(
        f"shiftright({GM.zorder_interleave(SPARK, 'qx', 'qy')}, 20)"))
    pruned = z.where(F.col("zcell").isin(_g8_cover_cells()))
    exact = pruned.where(
        (F.col("lat") >= lat0) & (F.col("lat") <= lat1)
        & (F.col("lon") >= lon0) & (F.col("lon") <= lon1))
    return (
        exact.groupBy("placetype")
        .agg(F.count(F.lit(1)).alias("n"),
             F.count(F.col("deleted")).alias("n_deleted"))
    )


QUERIES["p12_mercator_tiles"] = p12_mercator_tiles
QUERIES["g3_tile_grid"] = g3_tile_grid
QUERIES["g7_zorder"] = g7_zorder
QUERIES["g8_zcell_scan"] = g8_zcell_scan

_MERC_LAT = P.synthetic_lat(DUCKDB)
_MERC_LON = P.synthetic_lon(DUCKDB)

ORACLES["p12_mercator_tiles"] = f"""
    SELECT {GM.mercator_tile_x(DUCKDB, _MERC_LON, 12)} AS tx,
           {GM.mercator_tile_y(DUCKDB, _MERC_LAT, 12)} AS ty,
           COUNT(*) AS cnt
    FROM customer WHERE c_custkey % 11 != 0
    GROUP BY 1, 2
"""

ORACLES["g8_zcell_scan"] = f"""
    WITH {P.places_sql_cte()}
    SELECT placetype, COUNT(*) AS n,
           COUNT(deleted) AS n_deleted
    FROM places
    WHERE lat >= 10.0 AND lat <= 35.0
      AND lon >= 40.0 AND lon <= 95.0
    GROUP BY placetype
"""

ORACLES["g7_zorder"] = f"""
    WITH q AS (
        SELECT {GM.zorder_quantize_lon(DUCKDB, _MERC_LON)} AS qx,
               {GM.zorder_quantize_lat(DUCKDB, _MERC_LAT)} AS qy
        FROM customer WHERE c_custkey % 11 != 0
    ), z AS (
        SELECT {GM.zorder_interleave(DUCKDB, 'qx', 'qy')} AS z FROM q
    )
    SELECT (z >> 20) AS zcell, COUNT(*) AS n,
           MIN(z) AS min_z, MAX(z) AS max_z
    FROM z GROUP BY 1
"""

ORACLES["g3_tile_grid"] = f"""
    WITH grid AS (
        SELECT gx.range AS gx, gy.range AS gy
        FROM range(0, 36) gx CROSS JOIN range(0, 18) gy
    ),
    counts AS (
        SELECT CAST(floor(({_MERC_LON} + 180.0) / 10.0) AS INTEGER) AS gx,
               CAST(floor(({_MERC_LAT} + 90.0) / 10.0) AS INTEGER) AS gy,
               COUNT(*) AS n
        FROM customer WHERE c_custkey % 11 != 0
        GROUP BY 1, 2
    )
    SELECT g.gx, g.gy, COALESCE(c.n, 0) AS cnt
    FROM grid g LEFT JOIN counts c ON g.gx = c.gx AND g.gy = c.gy
"""


def a2_images_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 image counters over the real nested map<category,
    array<photo>> column (BaseOprPlaceDataProvider.java:227-239):
    total photos across categories (excluding review) + review count."""
    pl = P.synthetic_places(spark, sf_dir)
    non_review = F.map_filter(F.col("images"), lambda k, _v: k != "review")
    total = F.aggregate(F.map_values(non_review), F.lit(0),
                        lambda acc, arr: acc + F.size(arr))
    return pl.select(
        F.concat_ws(",", "tile_id", "suffix").alias("opr_id"),
        total.cast("long").alias("images_size"),
        F.coalesce(F.size(F.col("images")["review"]), F.lit(0))
        .cast("long").alias("img_review_size"),
    )


QUERIES["a2_images_size"] = a2_images_size

ORACLES["a2_images_size"] = f"""
    WITH {P.places_sql_cte()}
    SELECT tile_id || ',' || suffix AS opr_id,
           CAST(key % 3 AS BIGINT) AS images_size,
           CAST(key % 2 AS BIGINT) AS img_review_size
    FROM places
"""


def a4_place_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 + O2 (BaseOprPlaceDataProvider.java:161-200): distinct place
    types with display names (capitalize + underscore→space), ranked in
    display order.

    O2 ordering parity is EXACT, not approximate: the reference sorts
    labels with ``Comparator.naturalOrder()`` (:182-194) — plain UTF-16
    code-unit order, NOT a locale collator — and Java code-unit order
    equals Spark/DuckDB binary UTF-8 order for all BMP strings (they
    only diverge on supplementary-plane characters, which cannot appear
    in OSM placetype values).  ``label_rank`` pins the order in the
    value-hashed output; ties (two placetypes mapping to one label)
    break on the raw placetype, mirroring LinkedHashMap insertion from
    a sorted key list.  The rank window is unpartitioned by design: it
    runs over the already-aggregated distinct-placetype frame, whose
    cardinality is the placetype vocabulary (dozens), not the corpus.
    """
    from pyspark.sql.window import Window

    from ..functions.text import display_place_type

    pl = P.synthetic_places(spark, sf_dir)
    agg = (
        pl.where(F.col("deleted").isNull())
        .groupBy("placetype")
        .agg(F.count(F.lit(1)).alias("n_places"))
        .select("placetype",
                display_place_type(F.col("placetype")).alias("label"),
                "n_places")
    )
    rank = F.row_number().over(Window.orderBy("label", "placetype"))
    return agg.withColumn("label_rank", rank.cast("int"))


def p10_name_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 (Entity.getNameTags / MergeUtil.getOtherPlaceName): name-*
    prefix filter over the main element's open tag map."""
    pl = P.synthetic_places(spark, sf_dir)
    live = F.filter(F.col("source.osm"), lambda x: x["deleted"].isNull())
    main = F.coalesce(F.try_element_at(live, F.lit(1)),
                      F.try_element_at(F.col("source.osm"), F.lit(1)))
    name_tags = F.map_filter(main["tags"], lambda k, _v: k.startswith("name"))
    return pl.select(
        F.concat_ws(",", "tile_id", "suffix").alias("opr_id"),
        F.size(name_tags).cast("long").alias("n_name_tags"),
        F.element_at(name_tags, "name").alias("name_value"),
    )


QUERIES["a4_place_types"] = a4_place_types
QUERIES["p10_name_tags"] = p10_name_tags

ORACLES["a4_place_types"] = f"""
    WITH {P.places_sql_cte()},
    agg AS (
        SELECT placetype,
               upper(substr(replace(placetype, '_', ' '), 1, 1))
                 || substr(replace(placetype, '_', ' '), 2) AS label,
               COUNT(*) AS n_places
        FROM places WHERE deleted IS NULL
        GROUP BY placetype
    )
    SELECT placetype, label, n_places,
           CAST(row_number() OVER (ORDER BY label, placetype) AS INTEGER)
               AS label_rank
    FROM agg
"""

ORACLES["p10_name_tags"] = f"""
    WITH {P.places_sql_cte()}
    SELECT tile_id || ',' || suffix AS opr_id,
           CAST(1 AS BIGINT) AS n_name_tags,
           name AS name_value
    FROM places
"""


#: pointy-top hex geometry constants — single Python floats embedded in
#: BOTH engines' expressions so the axial math is bit-identical.
_HEX_A = 3 ** 0.5 / 3       # sqrt(3)/3
_HEX_13 = 1.0 / 3.0
_HEX_23 = 2.0 / 3.0
_HEX_SIZE = 2.0             # hex circumradius, degrees


def g13_hex_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13: hexagonal spatial binning (the H3/axial-grid family, next
    to the OLC tiles, mercator tiles and Z-order keys the repo already
    has): points land in pointy-top hexes via the standard axial
    transform + cube rounding, and the query reports per-hex density.
    Hex grids are the aggregation layout mobility/geo pipelines prefer
    over squares (uniform neighbor distance); the bin key is two small
    ints — a clean shuffle/partition key at 100 TB.

    Cube rounding is float arithmetic, so every constant is ONE Python
    float embedded in both engines' expressions, rounds are
    ``floor(t + 0.5)`` (the cross-engine discipline), and the
    largest-residual fix compares the identical doubles — the pick
    cannot split between engines.  Coordinates are the synthetic
    closed-form lat/lon over c_custkey (the s1/geo convention, SQL
    mirror below).
    """
    lat = F.expr(P.synthetic_lat(SPARK))
    lon = F.expr(P.synthetic_lon(SPARK))
    q = (F.lit(_HEX_A) * lon - F.lit(_HEX_13) * lat) / F.lit(_HEX_SIZE)
    r = (F.lit(_HEX_23) * lat) / F.lit(_HEX_SIZE)
    base = (load_table(spark, "customer", sf_dir)
            .select(F.col("c_custkey").alias("key"),
                    q.alias("q"), r.alias("r")))
    x, z = F.col("q"), F.col("r")
    y = -x - z
    rx = F.floor(x + 0.5)
    ry = F.floor(y + 0.5)
    rz = F.floor(z + 0.5)
    dx = F.abs(rx - x)
    dy = F.abs(ry - y)
    dz = F.abs(rz - z)
    hq = F.when((dx > dy) & (dx > dz), -ry - rz).otherwise(rx)
    hr = F.when((dx > dy) & (dx > dz), rz).otherwise(
        F.when(dy > dz, rz).otherwise(-rx - ry))
    return (base.select("key", hq.cast("long").alias("hq"),
                        hr.cast("long").alias("hr"))
            .groupBy("hq", "hr")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("key").alias("first_key")))


QUERIES["g13_hex_bin"] = g13_hex_bin

_HEX_LAT = "((c_custkey * 7919) % 16000 / 100.0 - 80.0)"
_HEX_LON = "((c_custkey * 104729) % 36000 / 100.0 - 180.0)"

ORACLES["g13_hex_bin"] = f"""
    WITH qr AS (
        SELECT c_custkey AS key,
               ({_HEX_A!r} * {_HEX_LON} - {_HEX_13!r} * {_HEX_LAT})
                   / {_HEX_SIZE!r} AS q,
               ({_HEX_23!r} * {_HEX_LAT}) / {_HEX_SIZE!r} AS r
        FROM customer
    ), cube AS (
        SELECT key, q, r, -q - r AS y,
               floor(q + 0.5) AS rx, floor(-q - r + 0.5) AS ry,
               floor(r + 0.5) AS rz
        FROM qr
    ), fixed AS (
        SELECT key,
               CASE WHEN abs(rx - q) > abs(ry - y)
                         AND abs(rx - q) > abs(rz - r)
                    THEN -ry - rz ELSE rx END AS hq,
               CASE WHEN abs(rx - q) > abs(ry - y)
                         AND abs(rx - q) > abs(rz - r)
                    THEN rz
                    WHEN abs(ry - y) > abs(rz - r) THEN rz
                    ELSE -rx - ry END AS hr
        FROM cube
    )
    SELECT CAST(hq AS BIGINT) AS hq, CAST(hr AS BIGINT) AS hr,
           COUNT(*) AS n, MIN(key) AS first_key
    FROM fixed GROUP BY 1, 2
"""
