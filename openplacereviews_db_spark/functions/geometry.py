"""Geometry kit (SURVEY.md §2.9, OsmMapUtils.java re-expressed).

Expressions for the pure-arithmetic parts (mercator tiles, Z-order
keys as SQL helpers that take a :mod:`.dialect` first; orthogonal
distance as a Column) and Python kernels + vectorized wrappers for the
array-valued parts (ray casting, Douglas-Peucker, shoelace area,
clockwise test, centroids).  All formulas are the
standard public ones (slippy-map tiling, shoelace, Peucker) with
behavior matched to the reference's intent — citations note the
corresponding OsmMapUtils methods, not copied code.

Coordinates travel as ``array<struct<lat:double,lon:double>>`` (the
way-node shape of the OSM entity model, SURVEY.md §1.3); kernels are
applied per row via Arrow-batched ``mapInPandas`` wrappers so a
100 TB way table streams through without per-row Python UDF overhead.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dialect import Dialect

COORDS_DDL = "array<struct<lat:double,lon:double>>"


# ---------------------------------------------------------------------------
# expressions (JVM-side)
# ---------------------------------------------------------------------------

def mercator_tile_x(d: Dialect, lon: str, zoom: int) -> str:
    """Slippy-map tile x at integer zoom (OsmMapUtils.getTileNumberX
    analog)."""
    return (f"CAST(floor(((({lon}) + {d.dbl(180.0)}) / {d.dbl(360.0)}) "
            f"* {1 << zoom}) AS BIGINT)")


def mercator_tile_y(d: Dialect, lat: str, zoom: int) -> str:
    """Slippy-map tile y (OsmMapUtils.getTileNumberY analog); latitude
    clamped to the Web-Mercator domain."""
    rad = (f"radians(least({d.dbl(85.0511287798)}, "
           f"greatest({d.dbl(-85.0511287798)}, {lat})))")
    n = (f"(({d.dbl(1.0)} - (ln((tan({rad}) + ({d.dbl(1.0)} / cos({rad})))) "
         f"/ {d.dbl(math.pi)})) / {d.dbl(2.0)})")
    return f"CAST(floor(({n} * {1 << zoom})) AS BIGINT)"


def _zorder_quantize(d: Dialect, v: str, lo: float, span: float,
                     bits: int) -> str:
    cells = 1 << bits
    q = (f"CAST(floor(((({v}) + {d.dbl(lo)}) * {d.dbl(float(cells))}) "
         f"/ {d.dbl(span)}) AS BIGINT)")
    return f"least({cells - 1}, greatest(0, {q}))"


def zorder_quantize_lon(d: Dialect, lon: str, bits: int = 16) -> str:
    """Quantize longitude to the ``2^bits`` Z-order grid (clamped)."""
    return _zorder_quantize(d, lon, 180.0, 360.0, bits)


def zorder_quantize_lat(d: Dialect, lat: str, bits: int = 16) -> str:
    """Quantize latitude to the ``2^bits`` Z-order grid (clamped)."""
    return _zorder_quantize(d, lat, 90.0, 180.0, bits)


def zorder_interleave(d: Dialect, qx: str, qy: str, bits: int = 16) -> str:
    """Morton (Z-order) value from pre-quantized cell coords: bit i of
    qx lands at position 2i, bit i of qy at 2i+1 — a ``2*bits``-bit key
    whose prefix ordering is a recursive spatial quadtree.

    Sorting (or range-partitioning) a 100 TB corpus by this key
    clusters spatial neighbors into the same files, so a bbox query
    becomes a handful of Z-ranges and parquet min/max stats skip
    everything else — the data-skipping layout trick behind
    Delta/Iceberg OPTIMIZE ZORDER, here as a plain expression.
    Pass quantized COLUMN NAMES (not inlined expressions): the
    interleave references its inputs ``2*bits`` times.  Bit positions
    are disjoint, so ``+`` is ``|``.
    """
    terms = []
    for i in range(bits):
        for q, pos in ((qx, 2 * i), (qy, 2 * i + 1)):
            terms.append(d.shift_left(f"({d.shift_right(q, i)} & 1)", pos))
    return "(" + " + ".join(terms) + ")"


def orthogonal_distance_deg(px: Column, py: Column, ax: Column, ay: Column,
                            bx: Column, by: Column) -> Column:
    """Perpendicular distance (planar, in coordinate units) from P to
    segment AB with clamped projection (OsmMapUtils.getOrthogonalDistance
    / getProjection analog)."""
    abx, aby = bx - ax, by - ay
    apx, apy = px - ax, py - ay
    denom = abx * abx + aby * aby
    t_raw = F.when(denom == 0, F.lit(0.0)).otherwise(
        (apx * abx + apy * aby) / denom)
    t = F.least(F.lit(1.0), F.greatest(F.lit(0.0), t_raw))
    cx, cy = ax + t * abx, ay + t * aby
    return F.sqrt((px - cx) ** 2 + (py - cy) ** 2)


# ---------------------------------------------------------------------------
# pure-Python kernels over [(lat, lon), ...]
# ---------------------------------------------------------------------------

def ccw(a: tuple, b: tuple, c: tuple) -> bool:
    """Counter-clockwise turn test (OsmMapUtils.ccw analog).
    Points are (lat, lon) = (y, x); cross = (B−A) × (C−A) > 0."""
    return ((b[1] - a[1]) * (c[0] - a[0])
            - (b[0] - a[0]) * (c[1] - a[1])) > 0


def segments_intersect(a: tuple, b: tuple, c: tuple, d: tuple) -> bool:
    """Proper segment intersection via ccw orientation tests
    (OsmMapUtils.linesIntersect analog)."""
    return (ccw(a, c, d) != ccw(b, c, d)) and (ccw(a, b, c) != ccw(a, b, d))


def point_in_polygon(lat: float, lon: float,
                     ring: list[tuple[float, float]]) -> bool:
    """Ray casting (OsmMapUtils.isPointInsidePolygon analog, 590-631)."""
    inside = False
    n = len(ring)
    for i in range(n):
        y1, x1 = ring[i]
        y2, x2 = ring[(i + 1) % n]
        if (x1 > lon) != (x2 > lon):
            t = (lon - x1) / (x2 - x1)
            if lat < y1 + t * (y2 - y1):
                inside = not inside
    return inside


def polygon_area_deg2(ring: list[tuple[float, float]]) -> float:
    """Shoelace area in squared degrees (sign by winding)."""
    s = 0.0
    n = len(ring)
    for i in range(n):
        y1, x1 = ring[i]
        y2, x2 = ring[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s / 2.0


#: meters per degree of latitude at the haversine radius used everywhere
_M_PER_DEG = 6372.8e3 * math.pi / 180.0


def polygon_area_m2(ring: list[tuple[float, float]]) -> float:
    """Approximate metric area: shoelace scaled by cos(mean lat)
    (OsmMapUtils.getArea analog — small-polygon approximation)."""
    if len(ring) < 3:
        return 0.0
    mean_lat = sum(p[0] for p in ring) / len(ring)
    return abs(polygon_area_deg2(ring)) * _M_PER_DEG * _M_PER_DEG * math.cos(
        math.radians(mean_lat))


def is_clockwise(ring: list[tuple[float, float]]) -> bool:
    """Winding test via signed shoelace area (OsmMapUtils.isClockwiseWay
    analog)."""
    return polygon_area_deg2(ring) < 0


def douglas_peucker(points: list[tuple[float, float]],
                    epsilon_deg: float) -> list[tuple[float, float]]:
    """Iterative Douglas-Peucker with clamped-projection distance
    (OsmMapUtils.simplifyDouglasPeucker analog; iterative to avoid
    recursion limits on long ways)."""
    n = len(points)
    if n < 3:
        return list(points)
    keep = [False] * n
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        ay, ax = points[lo]
        by, bx = points[hi]
        abx, aby = bx - ax, by - ay
        denom = abx * abx + aby * aby
        best, best_d = -1, epsilon_deg
        for i in range(lo + 1, hi):
            py, px = points[i]
            if denom == 0:
                t = 0.0
            else:
                t = max(0.0, min(1.0, ((px - ax) * abx + (py - ay) * aby) / denom))
            # explicit sqrt(dx²+dy²), NOT math.hypot: hypot's fused
            # algorithm differs from SQL sqrt(dx*dx+dy*dy) in the last
            # ulp, and the DuckDB oracle must replay this arithmetic
            # bit-for-bit for the split structure to match
            dx = px - (ax + t * abx)
            dy = py - (ay + t * aby)
            d = math.sqrt(dx * dx + dy * dy)
            if d > best_d:
                best, best_d = i, d
        if best >= 0:
            keep[best] = True
            stack.append((lo, best))
            stack.append((best, hi))
    return [p for p, k in zip(points, keep) if k]


def _haversine_m_py(lat1: float, lon1: float,
                    lat2: float, lon2: float) -> float:
    """Scalar mirror of functions.geo.haversine_m — same op order, same
    R = 6372.8 km (OsmMapUtils.java:96-110), so kernel and SQL oracle
    compute bit-identical distances."""
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = (math.sin(dlat / 2) * math.sin(dlat / 2)
         + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
         * math.sin(dlon / 2) * math.sin(dlon / 2))
    return 2 * 6372.8 * 1000 * math.asin(math.sqrt(a))


def _math_weight_center(points: list[tuple[float, float]]
                        ) -> tuple[float, float]:
    """OsmMapUtils.getMathWeightCenterForNodes (OsmMapUtils.java:262-291):
    segment-length-weighted midpoints over the node list AS GIVEN
    (closed ways include the duplicated last node).  The latitude term
    reproduces the reference verbatim — ``(n.lat + n.lat) * dist / 2``,
    i.e. the CURRENT node's latitude only, not the midpoint; matching
    the shipped behavior beats fixing its arithmetic."""
    lon = lat = sum_dist = 0.0
    prev = None
    for p in points:
        if prev is not None:
            d = _haversine_m_py(prev[0], prev[1], p[0], p[1])
            sum_dist += d
            lon += (prev[1] + p[1]) * d / 2
            lat += (p[0] + p[0]) * d / 2
        prev = p
    if sum_dist == 0:
        return prev
    return (lat / sum_dist, lon / sum_dist)


def _snap_to_nearest(points: list[tuple[float, float]],
                     center: tuple[float, float]) -> tuple[float, float]:
    """Nearest node to ``center`` by reference-constant haversine;
    strict ``<`` keeps the FIRST minimal node, like the reference loop
    (OsmMapUtils.java:245-256)."""
    best, best_d = center, float("inf")
    for p in points:
        d = _haversine_m_py(p[0], p[1], center[0], center[1])
        if d < best_d:
            best, best_d = p, d
    return best


def way_centroid(points: list[tuple[float, float]],
                 closed: bool | None = None,
                 mean_round: int | None = None) -> tuple[float, float]:
    """Way center with OsmMapUtils.getWeightCenterForWay parity
    (OsmMapUtils.java:232-259):

    - closed ring (first == last coordinate): the distance-weighted
      center (:func:`_math_weight_center`, including the reference's
      current-node-only latitude weighting), snapped to the nearest
      node only when the weighted center falls OUTSIDE the ring
      (ray-cast containment);
    - open line: plain vertex mean, ALWAYS snapped to the nearest node
      (the reference's ``!area || !containsPoint`` condition).

    ``mean_round`` rounds the open-line mean to that many decimals
    before snapping — a <1e-9° perturbation that makes the argmin
    decision identical across engines whose mean summation order
    differs (needed for value-exact SQL oracles; None = reference-exact).
    """
    if not points:
        return (float("nan"), float("nan"))
    if closed is None:
        closed = len(points) > 3 and points[0] == points[-1]
    if closed and len(points) >= 4:
        center = _math_weight_center(points)
        if point_in_polygon(center[0], center[1], points[:-1]):
            return center
        return _snap_to_nearest(points, center)
    mean = (sum(p[0] for p in points) / len(points),
            sum(p[1] for p in points) / len(points))
    if mean_round is not None:
        mean = (round(mean[0], mean_round), round(mean[1], mean_round))
    return _snap_to_nearest(points, mean)


# ---------------------------------------------------------------------------
# DataFrame wrappers (Arrow-batched)
# ---------------------------------------------------------------------------

def _coords(rows) -> list[tuple[float, float]]:
    return [(p["lat"], p["lon"]) for p in rows]


def simplify_ways(df: DataFrame, epsilon_deg: float,
                  coords_col: str = "coords",
                  id_col: str = "way_id",
                  with_coords: bool = True) -> DataFrame:
    """Douglas-Peucker over a ways frame (id, coords) → (id, coords,
    n_in, n_out).  ``with_coords=False`` drops the simplified arrays
    from the kernel OUTPUT — column pruning cannot reach inside a
    mapInPandas function, so a counts-only consumer would otherwise
    pay the per-point dict build + Arrow serialization of every
    simplified way for columns it discards (g4 is such a consumer)."""
    import pandas as pd

    out_coords = f"coords {COORDS_DDL}, " if with_coords else ""
    schema = f"{id_col} long, {out_coords}n_in int, n_out int"

    def kernel(batches):
        for pdf in batches:
            ids, outs, n_in, n_out = [], [], [], []
            for i, rows in zip(pdf[id_col], pdf[coords_col]):
                pts = _coords(rows)
                simp = douglas_peucker(pts, epsilon_deg)
                ids.append(i)
                if with_coords:
                    outs.append([{"lat": a, "lon": b} for a, b in simp])
                n_in.append(len(pts))
                n_out.append(len(simp))
            cols = {id_col: ids}
            if with_coords:
                cols["coords"] = outs
            cols.update({"n_in": n_in, "n_out": n_out})
            yield pd.DataFrame(cols)

    return df.select(id_col, coords_col).mapInPandas(kernel, schema=schema)


def way_stats(df: DataFrame, coords_col: str = "coords",
              id_col: str = "way_id",
              mean_round: int | None = None) -> DataFrame:
    """(id, area_m2, clockwise, centroid_lat, centroid_lon, n_vertices)
    per way.  ``n_vertices`` (= size(coords), closing duplicate
    included) is emitted from the kernel so consumers never re-execute
    the upstream ways build just to count vertices (a size() side
    joined back would make g5 pay the scan/groupBy twice plus a
    join)."""
    import pandas as pd

    schema = (f"{id_col} long, area_m2 double, clockwise boolean, "
              "centroid_lat double, centroid_lon double, n_vertices int")

    def kernel(batches):
        for pdf in batches:
            recs = []
            for i, rows in zip(pdf[id_col], pdf[coords_col]):
                pts = _coords(rows)
                ring = pts[:-1] if (len(pts) > 3 and pts[0] == pts[-1]) else pts
                clat, clon = way_centroid(pts, mean_round=mean_round)
                recs.append({
                    id_col: i,
                    "area_m2": polygon_area_m2(ring),
                    "clockwise": is_clockwise(ring) if len(ring) >= 3 else None,
                    "centroid_lat": clat, "centroid_lon": clon,
                    "n_vertices": len(pts),
                })
            yield pd.DataFrame(recs)[[id_col, "area_m2", "clockwise",
                                      "centroid_lat", "centroid_lon",
                                      "n_vertices"]]

    return df.select(id_col, coords_col).mapInPandas(kernel, schema=schema)


def points_in_polygon(points: DataFrame, ring: list[tuple[float, float]],
                      lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Filter a points frame to those inside a broadcast polygon ring —
    the polygon is tiny and shipped to every task; the points scan
    stays distributed."""
    import pandas as pd

    spark = points.sparkSession
    b_ring = spark.sparkContext.broadcast(ring)
    cols = points.columns
    schema = points.schema

    def kernel(batches):
        r = b_ring.value
        for pdf in batches:
            mask = [point_in_polygon(la, lo, r)
                    for la, lo in zip(pdf[lat_col], pdf[lon_col])]
            yield pdf[pd.Series(mask, index=pdf.index)]

    return points.mapInPandas(kernel, schema=schema)
