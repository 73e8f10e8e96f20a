"""Engine-independent result comparison.

Both sides are reduced to a sorted list of canonical row tuples over the
column names in sorted order, the same normalization as
``scripts/drive_contract.py:frame_hash``: NULL and NaN are one value,
floats are compared rounded to 9 decimals, timestamps at microseconds.
Spark rows arrive from ``.collect()`` and DuckDB rows from ``fetchall()``,
so the two sides never go through pandas dtype inference.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, int):
            return repr(v)
        f = float(v)
        if math.isnan(f):
            return "NULL"
        r = round(f, 9)
        if r.is_integer() and abs(r) < 2**53:
            return repr(int(r))
        return repr(r)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat(timespec="microseconds")
    if isinstance(v, dict):
        return repr(sorted((_cell(k), _cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return repr(tuple(_cell(x) for x in v))
    if hasattr(v, "asDict"):  # a nested Spark Row
        return _cell(v.asDict())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def canonical(columns: list[str], rows) -> list[tuple]:
    """Rows as sorted tuples of canonical cells, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    # plain tuples: a Spark Row's own __getitem__ is a Python-level call
    return sorted(tuple(_cell(row[i]) for i in order) for row in map(tuple, rows))


def digest(canon: list[tuple]) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]


def compare(got_cols: list[str], got_rows, want_cols: list[str], want_rows) -> str | None:
    """``None`` when both results are equal, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    got, want = canonical(got_cols, got_rows), canonical(want_cols, want_rows)
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if got != want:
        return f"hash {digest(got)} != {digest(want)}"
    return None
