"""Geo scalar functions.

JVM-side, whole-stage-codegen-friendly expressions of the reference's
geo math.  The cross-engine helpers take a :mod:`.dialect` first and
return SQL text, one definition for the Spark plans and the DuckDB
oracles:

- ``haversine_m``  — distance in meters, exact constants of the reference
  (``OsmMapUtils.java:96-110``: R = 6372.8 km, simplified asin form).
- ``olc_encode`` / ``olc_decode_center`` — OpenLocationCode 6-char tile
  codec (``OsmLocationTool.java:26-55``).  OLC is an alphabet-remapped
  base-20 positional code, so it is expressible with pure SQL
  arithmetic — no Python UDF in the hot path.
- ``grid_tile`` — a simple fixed-degree grid cell id (SQL-expressible on
  any engine; used where oracle parity matters more than OLC formatting).
- ``tile_neighbors`` — the 3×3 neighborhood of a grid tile, for
  border-correct distance joins (the reference joins only within one
  tile and accepts boundary misses — SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dialect import Dialect

#: reference: OsmMapUtils.java:100 — "for haversine use R = 6372.8 km"
HAVERSINE_R_KM = 6372.8

#: OpenLocationCode alphabet (public spec, https://github.com/google/open-location-code)
OLC_ALPHABET = "23456789CFGHJMPQRVWX"
OLC_BASE = 20


def haversine_m(d: Dialect, lat1: str, lon1: str, lat2: str,
                lon2: str) -> str:
    """Distance in meters; constants match OsmMapUtils.getDistance exactly."""
    dlat = f"radians(({lat2}) - ({lat1}))"
    dlon = f"radians(({lon2}) - ({lon1}))"
    a = (f"(sin({dlat} / 2) * sin({dlat} / 2) + "
         f"cos(radians({lat1})) * cos(radians({lat2})) * "
         f"sin({dlon} / 2) * sin({dlon} / 2))")
    return f"(asin(sqrt({a})) * {d.dbl(2 * HAVERSINE_R_KM * 1000)})"


# ---------------------------------------------------------------------------
# OpenLocationCode — pure Python (driver-side reference) and SQL
# ---------------------------------------------------------------------------

def olc_encode_py(lat: float, lon: float, code_length: int = 6) -> str:
    """Pure-Python OLC encode, truncated to ``code_length`` chars (no '+').

    Port of the public Open Location Code algorithm, matching
    ``OsmLocationTool.encode`` (OsmLocationTool.java:26-33) which drops the
    '+' separator and truncates to 6 chars.
    """
    lat = min(90.0, max(-90.0, lat))
    while lon < -180.0:
        lon += 360.0
    while lon >= 180.0:
        lon -= 360.0
    # clip latitude so the cell stays in range (per spec: for encoding 90
    # becomes just below 90)
    if lat == 90.0:
        lat = 90.0 - 1e-10
    lat_v = lat + 90.0
    lon_v = lon + 180.0
    # Closed-form digit extraction: digit at resolution r is
    # floor(v / r) % 20.  The same IEEE-double expression is used by the
    # SQL helper below so both agree bit-for-bit.
    # NB: floor(v / r), not v // r — float floor-division is fmod-based
    # and disagrees with floor-of-quotient in edge cases (90.0 // 0.05 ==
    # 1799 but floor(90.0 / 0.05) == 1800); SQL engines compute the
    # latter.
    import math

    code = []
    lat_res, lon_res = 20.0, 20.0  # first pair resolution in degrees
    for _ in range(code_length // 2):
        code.append(OLC_ALPHABET[int(math.floor(lat_v / lat_res)) % OLC_BASE])
        code.append(OLC_ALPHABET[int(math.floor(lon_v / lon_res)) % OLC_BASE])
        lat_res /= OLC_BASE
        lon_res /= OLC_BASE
    return "".join(code)


def olc_decode_center_py(code: str) -> tuple[float, float]:
    """Center (lat, lon) of a truncated OLC code.

    Mirrors ``OsmLocationTool.decode`` (OsmLocationTool.java:47-55): pads
    with '00' to 8 chars then '+' — i.e. decodes the prefix cell and
    returns its center.
    """
    code = code.upper()
    lat_lo, lon_lo = -90.0, -180.0
    lat_res, lon_res = 400.0, 400.0  # will be /20 before first digit pair
    for i in range(0, min(len(code), 10), 2):
        lat_res /= OLC_BASE
        lon_res /= OLC_BASE
        lat_lo += OLC_ALPHABET.index(code[i]) * lat_res
        lon_lo += OLC_ALPHABET.index(code[i + 1]) * lon_res
    return lat_lo + lat_res / 2, lon_lo + lon_res / 2


def olc_encode(d: Dialect, lat: str, lon: str, code_length: int = 6) -> str:
    """OLC encode as one SQL expression (no UDF).

    Each digit is floor-division arithmetic + alphabet lookup via
    ``substr`` on a literal — stays inside whole-stage codegen, and
    matches :func:`olc_encode_py` digit-for-digit (same IEEE-double ops).
    """
    if code_length % 2 != 0 or code_length > 10:
        raise ValueError("code_length must be even and <= 10")
    lat_c = (f"(least({d.dbl(90.0 - 1e-10)}, greatest({d.dbl(-90.0)}, "
             f"{lat})) + {d.dbl(90.0)})")
    turn = d.dbl(360.0)
    lon_c = f"(((({lon}) + {d.dbl(180.0)}) % {turn} + {turn}) % {turn})"
    parts: list[str] = []
    lat_res, lon_res = 20.0, 20.0
    for _ in range(code_length // 2):
        for v, res in ((lat_c, lat_res), (lon_c, lon_res)):
            digit = (f"CAST((CAST(floor({v} / {d.dbl(res)}) AS BIGINT) "
                     f"% {OLC_BASE}) AS INT)")
            parts.append(f"substr('{OLC_ALPHABET}', ({digit} + 1), 1)")
        lat_res /= OLC_BASE
        lon_res /= OLC_BASE
    return "(" + " || ".join(parts) + ")"


def olc_decode_center(d: Dialect, code: str,
                      code_length: int = 6) -> tuple[str, str]:
    """(center_lat, center_lon) of a truncated OLC code: latitude
    digits sit at odd positions, longitude digits at even ones."""
    def axis(lo: float, first: int) -> str:
        v, res = d.dbl(lo), 400.0
        for k in range(first, code_length + 1, 2):
            res /= OLC_BASE
            digit = (f"(instr('{OLC_ALPHABET}', substr(upper({code}), "
                     f"{k}, 1)) - 1)")
            v = f"({v} + (CAST({digit} AS DOUBLE) * {d.dbl(res)}))"
        return f"({v} + {d.dbl(res / 2)})"

    return axis(-90.0, 1), axis(-180.0, 2)


# ---------------------------------------------------------------------------
# Plain-degree grid tiles (oracle-friendly; partition key for distance joins)
# ---------------------------------------------------------------------------

def grid_tile(lat: Column, lon: Column, cell_deg: float = 0.05) -> Column:
    """Fixed-degree grid cell id 'x:y' — the blocking key for distance joins.

    0.05° ≈ the 6-char OLC cell size the reference uses as its tile index
    (SURVEY.md §1.5).  Expressible identically in any SQL dialect.
    """
    x = F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)).cast("long")
    y = F.floor((lat + F.lit(90.0)) / F.lit(cell_deg)).cast("long")
    return F.concat_ws(":", x, y)


def tile_neighbors(lat: Column, lon: Column, cell_deg: float = 0.05) -> Column:
    """array<string> of the 9 tiles around (lat, lon) — explode on the build
    side of a distance join for border-correct candidate generation."""
    x = F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)).cast("long")
    y = F.floor((lat + F.lit(90.0)) / F.lit(cell_deg)).cast("long")
    cells = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            cells.append(F.concat_ws(":", x + dx, y + dy))
    return F.array(*cells)
