"""Canonical value fingerprint of a query result.

Cells are normalised as the oracle-parity test does (floats rounded to
9 places with -0.0 folded, NaN as a string, datetimes naive ISO, lists
as tuples); columns are ordered by name and rows sorted, so the
fingerprint ignores column order, row order and floating-point noise
below the parity tolerance.
"""

from __future__ import annotations

import datetime
import hashlib
import math


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v + 0.0, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def fingerprint(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(norm_cell(r[i]) for i in order) for r in rows),
                 key=repr)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for r in out:
        h.update(repr(r).encode())
    return f"{len(out)}:{h.hexdigest()[:32]}"
