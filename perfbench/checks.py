"""Order-independent comparison of result rows.

Rows from Spark-written parquet (read with PyArrow) and from the DuckDB
oracles are brought to one text form per value, then hashed row by row and
summed, so neither row order nor file layout matters.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (float, decimal.Decimal)):
        return repr(float(v))
    return str(v)


def canon_rows(rows: list[dict], columns: list[str]) -> list[tuple[str, ...]]:
    return [tuple(_canon(r[c]) for c in columns) for r in rows]


def checksum(rows: list[tuple[str, ...]]) -> str:
    total = 0
    for row in rows:
        h = hashlib.blake2b("\x1f".join(row).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % 2**64
    return f"{total:016x}"
