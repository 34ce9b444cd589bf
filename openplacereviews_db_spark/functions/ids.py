"""Compact place-id ↔ bytes codec (OsmLocationTool.java:95-146).

The reference's place id is ``<6-char OLC tile><lowercase hex int>``;
its byte form is the 6 UTF-8 tile bytes followed by the suffix as a
4-byte big-endian int (``convertIdToBytes`` / ``convertBytesToId``).
Byte-compatible ids let the Spark engine exchange keys with existing
reference deployments.  Each helper takes a :mod:`.dialect` first and
returns SQL text, one definition for Spark and the DuckDB oracles.
"""

from __future__ import annotations

from .dialect import Dialect

CODE_LENGTH = 6


def _hex_suffix(n: str) -> str:
    """``BigInteger.toString(16)`` of a non-negative int — lowercase,
    minimal length (``hex`` of a BIGINT drops leading zeros on both
    engines)."""
    return f"lower(hex(CAST({n} AS BIGINT)))"


def make_id(d: Dialect, tile: str, n: str) -> str:
    return f"({tile} || {_hex_suffix(n)})"


def id_to_bytes(d: Dialect, place_id: str) -> str:
    """convertIdToBytes: utf8(tile) ++ int32-BE(suffix)."""
    tile = f"substring({place_id}, 1, {CODE_LENGTH})"
    suffix = f"substring({place_id}, {CODE_LENGTH + 1}, 2147483647)"
    return f"({d.utf8_encode(tile)} || unhex(lpad({suffix}, 8, '0')))"


def bytes_to_id(d: Dialect, b: str) -> str:
    """convertBytesToId: the inverse — minimal lowercase hex suffix
    (through an integer, so the padding goes but a genuine zero suffix
    stays).  Slices the hex text: DuckDB has no BLOB substr."""
    hx = f"hex({b})"
    tile = d.utf8_decode(f"unhex(substring({hx}, 1, {2 * CODE_LENGTH}))")
    suffix = d.hex_to_bigint(f"substring({hx}, {2 * CODE_LENGTH + 1}, 8)")
    return f"({tile} || {_hex_suffix(suffix)})"
