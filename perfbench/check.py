"""Order-insensitive result comparison.

Columns are matched by name.  Floats compare within a relative 1e-9:
an index rewrite may sum in another order than the plain plan, and the
last bits of a double sum follow the order.
"""

from __future__ import annotations

import datetime
import decimal
import math


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, "nan" if math.isnan(v) else f"{v:.6e}")
    return (2, repr(v))


def _rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda row: tuple(_key(v) for v in row))


def _close(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) and math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(rows_a, cols_a, rows_b, cols_b) -> bool:
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    a, b = _rows(rows_a, cols_a), _rows(rows_b, cols_b)
    return all(_close(x, y) for x, y in zip(a, b))
