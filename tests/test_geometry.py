"""Geometry kit unit tests (known shapes) + Spark wrapper coverage."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from openplacereviews_db_spark.functions import geometry as G
from openplacereviews_db_spark.functions.dialect import DUCKDB, SPARK

SQUARE = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0)]  # (lat, lon)
SQUARE_CLOSED = SQUARE + [SQUARE[0]]


def test_point_in_polygon():
    assert G.point_in_polygon(0.5, 0.5, SQUARE)
    assert not G.point_in_polygon(1.5, 0.5, SQUARE)
    assert not G.point_in_polygon(-0.1, 0.5, SQUARE)
    # concave: U-shape
    u = [(0, 0), (0, 3), (2, 3), (2, 2), (1, 2), (1, 1), (2, 1), (2, 0)]
    assert G.point_in_polygon(0.5, 1.5, u)
    assert not G.point_in_polygon(1.7, 1.5, u)


def test_ccw_and_intersection():
    # C on opposite sides of the vertical segment A->B flips orientation
    assert G.ccw((0, 0), (1, 0), (1, 1)) != G.ccw((0, 0), (1, 0), (1, -1))
    assert G.segments_intersect((0, 0), (1, 1), (0, 1), (1, 0))
    assert not G.segments_intersect((0, 0), (1, 1), (2, 2), (3, 3))


def test_area_and_winding():
    # 1°×1° square near the equator ≈ (111.2 km)² · cos(mean lat)
    a = G.polygon_area_m2(SQUARE)
    want = (G._M_PER_DEG ** 2) * math.cos(math.radians(0.5))
    assert abs(a - want) / want < 1e-12
    assert G.polygon_area_deg2(SQUARE) > 0  # this winding is CCW
    assert not G.is_clockwise(SQUARE)
    assert G.is_clockwise(list(reversed(SQUARE)))


def test_centroid():
    # closed ring: distance-weighted center (reference-verbatim lat
    # quirk included) lands inside the square → no snap
    lat, lon = G.way_centroid(SQUARE_CLOSED)
    assert abs(lon - 0.5) < 1e-9
    assert 0.0 < lat < 1.0  # lat is current-node-weighted, not midpoint
    assert G.point_in_polygon(lat, lon, SQUARE)
    # open line: vertex mean (0, 1) snapped to the nearest node — both
    # ends tie, strict < keeps the FIRST (OsmMapUtils.java:245-256)
    assert G.way_centroid([(0.0, 0.0), (0.0, 2.0)]) == (0.0, 0.0)
    # asymmetric open line snaps to the true nearest vertex
    assert G.way_centroid([(0.0, 0.0), (0.0, 1.0), (0.0, 5.0)]) == (0.0, 1.0)


def test_douglas_peucker():
    line = [(0.0, 0.0), (0.00001, 0.5), (0.0, 1.0), (0.5, 1.5), (0.0, 2.0)]
    out = G.douglas_peucker(line, epsilon_deg=0.001)
    # tiny bump dropped, big detour kept
    assert out == [(0.0, 0.0), (0.0, 1.0), (0.5, 1.5), (0.0, 2.0)]
    assert G.douglas_peucker(line, epsilon_deg=10.0) == [(0.0, 0.0), (0.0, 2.0)]


def test_spark_wrappers(spark):
    rows = [
        (1, [{"lat": a, "lon": b} for a, b in SQUARE_CLOSED]),
        (2, [{"lat": 0.0, "lon": 0.0}, {"lat": 0.00001, "lon": 0.5},
             {"lat": 0.0, "lon": 1.0}]),
    ]
    df = spark.createDataFrame(rows, f"way_id long, coords {G.COORDS_DDL}")
    stats = {r["way_id"]: r for r in G.way_stats(df).collect()}
    # weighted center: lon exactly centered by symmetry, lat slightly
    # off-center (reference's current-node-only lat weighting)
    assert abs(stats[1]["centroid_lon"] - 0.5) < 1e-9
    assert 0.45 < stats[1]["centroid_lat"] < 0.55
    assert stats[1]["clockwise"] is False
    simp = {r["way_id"]: r for r in G.simplify_ways(df, 0.001).collect()}
    assert simp[2]["n_out"] == 2
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 5.0, 5.0)], "id long, lat double, lon double")
    inside = G.points_in_polygon(pts, SQUARE).collect()
    assert [r["id"] for r in inside] == [1]


def test_mercator_matches_duckdb(spark, duck):
    pts = [(48.8584, 2.2945), (-33.92, 18.42), (85.3, 179.9), (-85.3, -179.9),
           (0.0, 0.0)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = [(r["x"], r["y"]) for r in df.select(
        F.expr(G.mercator_tile_x(SPARK, "lon", 12)).alias("x"),
        F.expr(G.mercator_tile_y(SPARK, "lat", 12)).alias("y")).collect()]
    sql = (f"SELECT {G.mercator_tile_x(DUCKDB, 'lon', 12)} AS x, "
           f"{G.mercator_tile_y(DUCKDB, 'lat', 12)} AS y "
           "FROM (SELECT unnest($1::DOUBLE[]) lat, unnest($2::DOUBLE[]) lon)")
    want = duck.execute(sql, [[p[0] for p in pts],
                              [p[1] for p in pts]]).fetchall()
    assert got == [tuple(w) for w in want]
    # spot-check the Eiffel tower tile at z12 (public slippy-map value)
    assert got[0] == (2074, 1409)


def test_zorder_interleave_bits(spark):
    """Known interleaves: bit i of qx -> 2i, bit i of qy -> 2i+1."""
    from pyspark.sql import functions as F

    from openplacereviews_db_spark.functions import geometry as GM

    df = spark.createDataFrame(
        [(0, 0), (3, 0), (0, 3), (3, 3), (65535, 65535)],
        "qx long, qy long")
    got = [r["z"] for r in df.select(
        F.expr(GM.zorder_interleave(SPARK, "qx", "qy")).alias("z"))
        .collect()]
    assert got == [0, 0b0101, 0b1010, 0b1111, (1 << 32) - 1]


def test_zorder_prefix_is_spatial(spark):
    """Nearby points share a long z prefix; antipodal ones do not —
    the property that makes min/max file stats skip bbox scans."""
    from pyspark.sql import functions as F

    from openplacereviews_db_spark.functions import geometry as GM

    pts = spark.createDataFrame(
        [("a1", 48.8566, 2.3522), ("a2", 48.8570, 2.3530),   # ~50 m apart
         ("far", -33.8688, 151.2093)],                        # Sydney
        "name string, lat double, lon double")
    q = pts.select(
        "name",
        F.expr(GM.zorder_quantize_lon(SPARK, "lon")).alias("qx"),
        F.expr(GM.zorder_quantize_lat(SPARK, "lat")).alias("qy"))
    z = {r["name"]: r["z"] for r in q.select(
        "name", F.expr(GM.zorder_interleave(SPARK, "qx", "qy")).alias("z"))
        .collect()}
    assert z["a1"] >> 12 == z["a2"] >> 12      # 50 m: top 20 bits agree
    assert z["a1"] >> 28 != z["far"] >> 28     # other hemisphere: differ


def test_g8_cover_prunes_and_loses_nothing(spark, sf_dir):
    """The z-cell cover is a real pruning (far fewer than 4096 cells)
    and a provable superset of the bbox rows."""
    from pyspark.sql import functions as F

    from openplacereviews_db_spark.plans import places_reports as PR

    cover = PR._g8_cover_cells()
    assert 0 < len(cover) < 4096 // 4        # prunes >75% of cells
    out = PR.g8_zcell_scan(spark, sf_dir)
    n = out.agg(F.sum("n")).collect()[0][0]
    assert n and n > 0                       # the bbox is populated


def test_hex_bin_centers_are_fixed_points(spark):
    """A hex center must bin to its own hex: run the g13 axial
    transform on exact center coordinates of a grid of (hq, hr) cells
    and assert each maps back to itself (the cube-rounding fix cannot
    move a center)."""
    from pyspark.sql import functions as F

    from openplacereviews_db_spark.plans.places_reports import (
        _HEX_13, _HEX_23, _HEX_A, _HEX_SIZE)

    s3 = 3 ** 0.5
    rows = []
    for hq in range(-5, 6):
        for hr in range(-5, 6):
            lon = _HEX_SIZE * (s3 * hq + s3 / 2 * hr)
            lat = _HEX_SIZE * 1.5 * hr
            rows.append((hq, hr, lat, lon))
    df = spark.createDataFrame(rows, "hq long, hr long, lat double, "
                                     "lon double")
    q = (F.lit(_HEX_A) * F.col("lon")
         - F.lit(_HEX_13) * F.col("lat")) / F.lit(_HEX_SIZE)
    r = (F.lit(_HEX_23) * F.col("lat")) / F.lit(_HEX_SIZE)
    x, z = q, r
    y = -x - z
    rx, ry, rz = F.floor(x + 0.5), F.floor(y + 0.5), F.floor(z + 0.5)
    dx, dy, dz = F.abs(rx - x), F.abs(ry - y), F.abs(rz - z)
    gq = F.when((dx > dy) & (dx > dz), -ry - rz).otherwise(rx)
    gr = F.when((dx > dy) & (dx > dz), rz).otherwise(
        F.when(dy > dz, rz).otherwise(-rx - ry))
    bad = (df.select("hq", "hr", gq.cast("long").alias("gq"),
                     gr.cast("long").alias("gr"))
           .where((F.col("hq") != F.col("gq"))
                  | (F.col("hr") != F.col("gr"))).collect())
    assert not bad, bad[:5]
