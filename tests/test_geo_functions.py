"""Geo kit goldens: OLC three-way parity, haversine constants, tiles."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from openplacereviews_db_spark.functions import geo
from openplacereviews_db_spark.functions.dialect import DUCKDB, SPARK

POINTS = [
    (48.8584, 2.2945),       # Eiffel (public OLC 8FW4V75V… → 6-char 8FW4V7)
    (0.0, 0.0),
    (90.0, 180.0),           # pole + antimeridian
    (-90.0, -180.0),
    (79.99, 179.99),
    (-33.9249, 18.4241),
]


def test_olc_known_value():
    assert geo.olc_encode_py(48.8584, 2.2945) == "8FW4V7"


def test_olc_three_way_parity(spark, duck):
    rng = random.Random(11)
    pts = POINTS + [(rng.uniform(-90, 90), rng.uniform(-180, 180))
                    for _ in range(200)]
    py = [geo.olc_encode_py(a, b) for a, b in pts]
    df = spark.createDataFrame(pts, "lat double, lon double")
    col = [r[0] for r in df.select(
        F.expr(geo.olc_encode(SPARK, "lat", "lon"))).collect()]
    sql = geo.olc_encode(DUCKDB, "lat", "lon")
    duckv = [r[0] for r in duck.execute(
        f"SELECT {sql} FROM (SELECT unnest($1::DOUBLE[]) lat, "
        "unnest($2::DOUBLE[]) lon)",
        [[p[0] for p in pts], [p[1] for p in pts]]).fetchall()]
    assert py == col == duckv


def test_olc_decode_roundtrip():
    for lat, lon in POINTS:
        code = geo.olc_encode_py(lat, lon)
        clat, clon = geo.olc_decode_center_py(code)
        assert geo.olc_encode_py(clat, clon) == code


def test_haversine_reference_constants(spark):
    # Paris→Cape Town with R=6372.8 km (the reference's constant —
    # OsmMapUtils.java:100); value pinned from the formula itself
    df = spark.createDataFrame([POINTS[0] + POINTS[5]],
                               "lat1 double, lon1 double, lat2 double, lon2 double")
    d = df.select(F.expr(geo.haversine_m(
        SPARK, "lat1", "lon1", "lat2", "lon2"))
        .alias("d")).collect()[0]["d"]
    assert abs(d - 9345549.9065) < 1.0  # formula-pinned to the meter


def test_grid_tile_and_neighbors(spark):
    df = spark.createDataFrame([(10.001, 20.001)], "lat double, lon double")
    row = df.select(
        geo.grid_tile(F.col("lat"), F.col("lon")).alias("t"),
        geo.tile_neighbors(F.col("lat"), F.col("lon")).alias("n")).collect()[0]
    assert row["t"] in row["n"] and len(row["n"]) == 9
    x, y = map(int, row["t"].split(":"))
    assert {f"{x + dx}:{y + dy}" for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)} == set(row["n"])
