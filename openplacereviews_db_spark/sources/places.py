"""The `opr.place` document model and a deterministic synthetic corpus.

Schema reconstructed from the reference's object builder
(``PlaceOpObjectHelper.java:55-103``, field constants :39-53) and test
fixture (``openplacereviews-core/src/test/resources/merge/places.json``)
— see SURVEY.md §1.1.  The 2-part compound key is (6-char OLC tile,
6-char suffix); the tile doubles as the partition/blocking key
(``OsmLocationTool.java:95-100``).

``synthetic_places`` derives a worldwide place corpus from the driver's
``customer`` table with **pure closed-form arithmetic** (integer mod +
IEEE-double division + closed-form OLC), so the exact same rows are
derivable in DuckDB SQL — ``PLACES_SQL_CTE`` is that mirror, giving
every geo-report plan a value-exact oracle.  The reference's random id
suffix (``OsmLocationTool.java:97``) is replaced by a deterministic
md5-derived suffix (SURVEY.md §7 "deterministic-id mode").  Like the
reference's stored ``obj_opr_places`` table, the derived frames are
written once to parquet (``testdata.stage_plan``) and every read scans
the stored copy; the oracles keep deriving from ``customer``.

Layout decisions for 100 TB:
- the corpus is keyed and (at scale) partitioned by ``tile_id`` — every
  geo query prunes partitions by tile prefix;
- the nested ``source.osm`` array stays one column (documents travel
  whole), while hot scalar projections (lat/lon/placetype/deleted) are
  materialized top-level so scans prune to a few columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geo
from ..functions.dialect import DUCKDB, SPARK, Dialect
from .testdata import load_table, stage_plan

#: one source.tripAdvisor element (TripAdvisorBot.java:58-65: a 2-part
#: id list [geo-code, detail-code] forming the fetch URL, plus optional
#: previously-fetched stars/reviews — "oldValue.size() > 1")
TRIP_REF_SCHEMA = T.StructType([
    T.StructField("id", T.ArrayType(T.StringType())),
    T.StructField("stars", T.DoubleType()),
    T.StructField("reviews", T.IntegerType()),
])

#: one source.osm element (SURVEY.md §1.1)
OSM_REF_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("type", T.StringType()),
    T.StructField("osm_tag", T.StringType()),
    T.StructField("osm_value", T.StringType()),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("version", T.StringType()),
    T.StructField("changeset", T.StringType()),
    T.StructField("timestamp", T.StringType()),
    T.StructField("deleted", T.StringType()),
])

PLACE_SCHEMA = T.StructType([
    T.StructField("tile_id", T.StringType(), False),
    T.StructField("suffix", T.StringType(), False),
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("placetype", T.StringType()),
    T.StructField("deleted", T.StringType()),
    T.StructField("source", T.StructType([
        T.StructField("osm", T.ArrayType(OSM_REF_SCHEMA)),
        T.StructField("tripAdvisor", T.ArrayType(TRIP_REF_SCHEMA)),
    ])),
    T.StructField("images", T.MapType(
        T.StringType(), T.ArrayType(T.MapType(T.StringType(), T.StringType())))),
])

#: tombstones used by the synthetic corpus
DELETED_PLACE_TS = "2021-06-01T00:00:00"
DELETED_OSM_TS = "2021-01-01T00:00:00"

# closed-form coordinate derivation (one SQL text for both engines; the
# *_py functions compute it driver-side)
_LAT_MUL, _LAT_MOD = 7919, 16000
_LON_MUL, _LON_MOD = 104729, 36000


def synthetic_lat(d: Dialect, key: str = "c_custkey") -> str:
    return (f"((({key} * {_LAT_MUL}) % {_LAT_MOD}) / {d.dbl(100.0)} "
            f"- {d.dbl(80.0)})")


def synthetic_lon(d: Dialect, key: str = "c_custkey") -> str:
    return (f"((({key} * {_LON_MUL}) % {_LON_MOD}) / {d.dbl(100.0)} "
            f"- {d.dbl(180.0)})")


def synthetic_lat_py(key: int) -> float:
    return ((key * _LAT_MUL) % _LAT_MOD) / 100.0 - 80.0


def synthetic_lon_py(key: int) -> float:
    return ((key * _LON_MUL) % _LON_MOD) / 100.0 - 180.0


@stage_plan("customer")
def synthetic_places(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic `opr.place` corpus derived from `customer`.

    Per customer key k:
    - lat/lon: closed-form hash arithmetic (above);
    - k % 11 == 0  → place-level tombstone (F_DELETED_PLACE);
    - k % 13 == 0  → source.osm = [deleted ref(k), live ref(k + 5e6)]
      (main-element selection must skip the dead first element — P2);
    - k % 7 == 0 (and not %13) → [live ref(k), deleted ref(k + 5e6)];
    - otherwise one live ref(k);
    - k % 9 == 0 → source.tripAdvisor = 1 entry (odd k) or 2 (even k);
      entry i has id ["g(k+i)%997", "d(k*10+i)"] and, when
      (k+2i) % 4 == 0, previously-fetched stars/reviews (the
      "oldValue.size() > 1" branch of TripAdvisorBot.java:107-110).
    """
    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    lat, lon = F.expr(synthetic_lat(SPARK)), F.expr(synthetic_lon(SPARK))
    ptype = F.lower(F.col("c_mktsegment"))

    def ref(idc: Column, deleted: Column | None) -> Column:
        return F.struct(
            idc.cast("long").alias("id"),
            F.lit("node").alias("type"),
            F.lit("amenity").alias("osm_tag"),
            ptype.alias("osm_value"),
            F.create_map(F.lit("name"), F.col("c_name"),
                         F.lit("amenity"), ptype).alias("tags"),
            lat.alias("lat"), lon.alias("lon"),
            F.concat(F.lit(""), (1 + k % 5).cast("string")).alias("version"),
            F.lit(None).cast("string").alias("changeset"),
            F.lit("2021-01-01T00:00:00").alias("timestamp"),
            (deleted if deleted is not None
             else F.lit(None).cast("string")).alias("deleted"),
        )

    live_main = ref(k, None)
    live_alt = ref(k + 5000000, None)
    dead_main = ref(k, F.lit(DELETED_OSM_TS))
    dead_alt = ref(k + 5000000, F.lit(DELETED_OSM_TS))
    osm = (
        F.when(k % 13 == 0, F.array(dead_main, live_alt))
        .when(k % 7 == 0, F.array(live_main, dead_alt))
        .otherwise(F.array(live_main))
    )
    # images: k%3 'main' photos + (k%2) photos pending review —
    # SQL-mirrorable sizes for the A2/A3 aggregates.  NB sequence(1, 0)
    # is DESCENDING [1, 0] in Spark, so zero-count cases need a guard.
    empty_photos = F.array().cast("array<map<string,string>>")
    img = F.when(k % 3 == 0, empty_photos).otherwise(F.transform(
        F.sequence(F.lit(1), (k % 3).cast("int")),
        lambda i: F.create_map(F.lit("cid"),
                               F.concat(k.cast("string"), F.lit(":"),
                                        i.cast("string")))))
    review = F.when(k % 2 == 0, empty_photos).otherwise(F.transform(
        F.sequence(F.lit(1), (k % 2).cast("int")),
        lambda i: F.create_map(F.lit("cid"),
                               F.concat(F.lit("r"), k.cast("string")))))
    images = F.map_filter(
        F.create_map(F.lit("main"), img, F.lit("review"), review),
        lambda _k, v: F.size(v) > 0)

    def trip_ref(i: int) -> Column:
        # k + 2*i keeps the "has previous rating" slice reachable on
        # BOTH indices (entry 1 exists only for even k, so a k+i grid
        # would never fire there)
        m = k + 2 * i
        has_old = m % 4 == 0
        return F.struct(
            F.array(F.concat(F.lit("g"), ((k + i) % 997).cast("string")),
                    F.concat(F.lit("d"), (k * 10 + i).cast("string")))
            .alias("id"),
            F.when(has_old, (m % 5).cast("double") / 2.0 + 0.5)
            .alias("stars"),
            F.when(has_old, (m % 200 + 1).cast("int")).alias("reviews"),
        )

    trip = F.when(k % 9 == 0,
                  F.when(k % 2 == 0, F.array(trip_ref(0), trip_ref(1)))
                  .otherwise(F.array(trip_ref(0))))
    return c.select(
        F.expr(synthetic_tile(SPARK)).alias("tile_id"),
        F.substring(F.md5(k.cast("string")), 1, 6).alias("suffix"),
        lat.alias("lat"), lon.alias("lon"),
        ptype.alias("placetype"),
        F.when(k % 11 == 0, F.lit(DELETED_PLACE_TS))
        .cast("string").alias("deleted"),
        F.struct(osm.alias("osm"), trip.alias("tripAdvisor")).alias("source"),
        images.alias("images"),
    )


def synthetic_tile(d: Dialect) -> str:
    """The 6-char OLC tile of a customer row's synthetic place."""
    return geo.olc_encode(d, synthetic_lat(d), synthetic_lon(d), 6)


def places_sql_cte() -> str:
    """DuckDB CTE producing the flat mirror of :func:`synthetic_places`.

    Exposes (tile_id, suffix, lat, lon, name, placetype, deleted,
    main_osm_id, version, n_osm) — main_osm_id already applies the P2
    main-element rule, which in this corpus reduces to the k%13 case.
    """
    lat, lon = synthetic_lat(DUCKDB), synthetic_lon(DUCKDB)
    tile = synthetic_tile(DUCKDB)
    return f"""
    places AS (
        SELECT {tile} AS tile_id,
               substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS suffix,
               {lat} AS lat, {lon} AS lon,
               c_name AS name,
               lower(c_mktsegment) AS placetype,
               CASE WHEN c_custkey % 11 = 0 THEN '{DELETED_PLACE_TS}' END AS deleted,
               CASE WHEN c_custkey % 13 = 0 THEN c_custkey + 5000000
                    ELSE c_custkey END AS main_osm_id,
               CAST(1 + c_custkey % 5 AS VARCHAR) AS version,
               CASE WHEN c_custkey % 13 = 0 OR c_custkey % 7 = 0
                    THEN 2 ELSE 1 END AS n_osm,
               c_custkey AS key
        FROM customer
    )"""


# ---------------------------------------------------------------------------
# Flat snapshots for the merge pipeline (J3/J4) — active places and a
# "closed places under review" set with controlled name variants, both
# mirrored in SQL so the match cascade is oracle-checkable.
# ---------------------------------------------------------------------------

#: jitter step ≈ 11 m of latitude
_JITTER_DEG = 1e-4


@stage_plan("customer")
def synthetic_active_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live flat view: one row per live place with merge-relevant fields."""
    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    tile = F.expr(synthetic_tile(SPARK))
    name = F.concat_ws(" ", F.col("c_name"), F.lower(F.col("c_mktsegment")))
    return c.where(~(k % 11 == 0)).select(
        F.concat_ws(",", tile,
                    F.substring(F.md5(k.cast("string")), 1, 6)).alias("id"),
        tile.alias("tile_id"),
        F.expr(synthetic_lat(SPARK)).alias("lat"),
        F.expr(synthetic_lon(SPARK)).alias("lon"),
        name.alias("name"),
        F.when(k % 10 == 0,
               F.concat(F.lit("Q"), k.cast("string"))).alias("wikidata"),
        F.lit(None).cast("string").alias("website"),
        F.array(name).alias("alt_names"),
    )


@stage_plan("customer")
def synthetic_closed_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-place review set: every k % 3 == 0 customer, jittered up to
    ~±100 m, with a name variant exercising each cascade tier:

    - k%4==0: identical name            (tier 1 via normalized equality)
    - k%4==1: word-swapped name         (tier 1 via sorted word bag)
    - k%4==2: last char truncated       (tier 1 via fuzzy word subset)
    - k%4==3: unrelated name            (tier 2 if wikidata matches,
              tier 3 if k%8==7 via alt names, else no match)
    """
    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    lat_s, lon_s = synthetic_closed_lat_lon(SPARK)
    lat, lon = F.expr(lat_s), F.expr(lon_s)
    aname = F.concat_ws(" ", F.col("c_name"), F.lower(F.col("c_mktsegment")))
    name = (
        F.when(k % 4 == 0, aname)
        .when(k % 4 == 1,
              F.concat_ws(" ", F.lower(F.col("c_mktsegment")), F.col("c_name")))
        .when(k % 4 == 2, F.substring(aname, 1, F.length(aname) - 1))
        .otherwise(F.concat(F.lit("zz-"),
                            F.substring(F.md5(k.cast("string")), 1, 6)))
    )
    return c.where(k % 3 == 0).select(
        F.concat(F.lit("c"), k.cast("string")).alias("id"),
        F.expr(geo.olc_encode(SPARK, lat_s, lon_s, 6)).alias("tile_id"),
        lat.alias("lat"), lon.alias("lon"),
        name.alias("name"),
        F.when(k % 10 == 0,
               F.concat(F.lit("Q"), k.cast("string"))).alias("wikidata"),
        F.lit(None).cast("string").alias("website"),
        F.when(k % 8 == 7, F.array(aname)).otherwise(F.array(name))
        .alias("alt_names"),
        F.when(k % 6 == 0, F.lit("2021-05-01T00:00:00"))
        .otherwise(F.lit("2021-05-25T00:00:00")).alias("deleted_ts"),
        k.alias("key"),
    )


def synthetic_closed_lat_lon(d: Dialect) -> tuple[str, str]:
    """A closed place's coordinates: its live ones jittered by up to
    ±9 / ±11 steps of ``_JITTER_DEG``."""
    def jitter(v: str, mod: int) -> str:
        return (f"({v} + (CAST(((c_custkey % {mod}) - {mod // 2}) AS DOUBLE)"
                f" * {d.dbl(_JITTER_DEG)}))")
    return jitter(synthetic_lat(d), 19), jitter(synthetic_lon(d), 23)


def flat_snapshots_sql_ctes() -> str:
    """DuckDB CTEs `active` and `closed` mirroring the two frames above."""
    alat, alon = synthetic_lat(DUCKDB), synthetic_lon(DUCKDB)
    clat, clon = synthetic_closed_lat_lon(DUCKDB)
    atile = synthetic_tile(DUCKDB)
    ctile = geo.olc_encode(DUCKDB, clat, clon, 6)
    aname = "(c_name || ' ' || lower(c_mktsegment))"
    cname = (f"(CASE WHEN c_custkey % 4 = 0 THEN {aname} "
             f"WHEN c_custkey % 4 = 1 THEN (lower(c_mktsegment) || ' ' || c_name) "
             f"WHEN c_custkey % 4 = 2 THEN substr({aname}, 1, length({aname}) - 1) "
             f"ELSE ('zz-' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)) END)")
    wd = ("(CASE WHEN c_custkey % 10 = 0 "
          "THEN 'Q' || CAST(c_custkey AS VARCHAR) END)")
    return f"""
    active AS (
        SELECT {atile} || ',' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS id,
               {atile} AS tile_id, {alat} AS lat, {alon} AS lon,
               {aname} AS name, {wd} AS wikidata,
               CAST(NULL AS VARCHAR) AS website,
               [{aname}] AS alt_names
        FROM customer WHERE c_custkey % 11 != 0
    ),
    closed AS (
        SELECT 'c' || CAST(c_custkey AS VARCHAR) AS id,
               {ctile} AS tile_id, {clat} AS lat, {clon} AS lon,
               {cname} AS name, {wd} AS wikidata,
               CAST(NULL AS VARCHAR) AS website,
               CASE WHEN c_custkey % 8 = 7 THEN [{aname}] ELSE [{cname}] END AS alt_names,
               CASE WHEN c_custkey % 6 = 0 THEN '2021-05-01T00:00:00'
                    ELSE '2021-05-25T00:00:00' END AS deleted_ts,
               c_custkey AS key
        FROM customer WHERE c_custkey % 3 = 0
    )"""
