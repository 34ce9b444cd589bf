"""Compact place-id ↔ bytes codec (OsmLocationTool.java:95-146).

The reference's place id is ``<6-char OLC tile><lowercase hex int>``;
its byte form is the 6 UTF-8 tile bytes followed by the suffix as a
4-byte big-endian int (``convertIdToBytes`` / ``convertBytesToId``).
Byte-compatible ids let the Spark engine exchange keys with existing
reference deployments.  Pure column expressions on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CODE_LENGTH = 6


def hex_suffix(n: Column) -> Column:
    """``BigInteger.toString(16)`` — lowercase, minimal length."""
    return F.lower(F.conv(n.cast("string"), 10, 16))


def make_id(tile: Column, n: Column) -> Column:
    return F.concat(tile, hex_suffix(n))


def id_to_bytes(place_id: Column) -> Column:
    """convertIdToBytes: utf8(tile) ++ int32-BE(suffix)."""
    tile = F.substring(place_id, 1, CODE_LENGTH)
    suffix = F.substring(place_id, CODE_LENGTH + 1, 2147483647)
    return F.concat(
        F.encode(tile, "UTF-8"),
        F.unhex(F.lpad(suffix, 8, "0")),
    )


def bytes_to_id(b: Column) -> Column:
    """convertBytesToId: the inverse — minimal lowercase hex suffix
    (``conv(x, 16, 16)`` canonicalizes away the padding; plain ltrim
    would eat a genuine zero suffix)."""
    tile = F.decode(F.substring(b, 1, CODE_LENGTH), "UTF-8")
    suffix = F.lower(F.conv(F.hex(F.substring(b, CODE_LENGTH + 1, 4)),
                            16, 16))
    return F.concat(tile, suffix)


def make_id_sql(tile: str, n: str) -> str:
    trimmed = f"ltrim(lower(to_hex(CAST({n} AS INT))), '0')"
    return (f"({tile} || CASE WHEN {trimmed} = '' THEN '0' "
            f"ELSE {trimmed} END)")


def id_to_bytes_sql(place_id: str) -> str:
    return (f"(encode(substr({place_id}, 1, {CODE_LENGTH})) || "
            f"from_hex(lpad(substr({place_id}, {CODE_LENGTH + 1}), "
            f"8, '0')))")


def bytes_to_id_sql(b: str) -> str:
    # DuckDB has no BLOB substr — slice the hex text form instead
    # (2 hex chars per byte)
    hx = f"to_hex({b})"
    tile_hex = f"substr({hx}, 1, {2 * CODE_LENGTH})"
    suffix_hex = f"lower(substr({hx}, {2 * CODE_LENGTH + 1}, 8))"
    trimmed = f"ltrim({suffix_hex}, '0')"
    return (f"(decode(from_hex({tile_hex})) || "
            f"CASE WHEN {trimmed} = '' THEN '0' ELSE {trimmed} END)")
