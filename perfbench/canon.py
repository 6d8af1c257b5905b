"""Order-insensitive canonical hash of a query result.

Both sides arrive as plain Python rows: Spark ``Row`` tuples from
``collect()`` and DuckDB tuples from ``fetchall()``. Cells are rendered
the way ``tools/check_oracle.py`` renders them (floats by ``repr``, NULL
and NaN alike as ``NULL``, midnight timestamps as dates, arrays
element-wise), columns are ordered by name and rows are sorted, so the
hash depends on the result set only.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, dt.datetime):
        d = v.replace(tzinfo=None)
        if (d.hour, d.minute, d.second, d.microsecond) == (0, 0, 0, 0):
            return d.date().isoformat()
        return d.isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """sha256 over the sorted canonical rows, columns ordered by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return h.hexdigest()
