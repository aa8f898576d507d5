"""Order-insensitive result hashing and the DuckDB oracle side.

A registered query's result matches its ``oracle_sql()`` when both
sides give the same column names, the same row count and the same
hash of their rows, with columns taken in sorted-name order and every
cell normalized (floats rounded to 9 decimals, dates and timestamps as
ISO strings, lists as tuples). The row hashes are summed modulo 2**64,
so row order never matters.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
from typing import Any, Iterable

_MASK = (1 << 64) - 1


def norm(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        r = round(f, 9)
        return int(r) if r == int(r) and abs(r) < 2**53 else r
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def row_hash(cells: Iterable[Any]) -> int:
    h = hashlib.blake2b(repr(tuple(norm(c) for c in cells)).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def table_hash(columns: list[str], rows: Iterable[Iterable[Any]]) -> tuple[int, int]:
    """(row count, order-insensitive hash) with columns in sorted order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    n, acc = 0, 0
    for r in rows:
        r = tuple(r)
        acc = (acc + row_hash(r[i] for i in order)) & _MASK
        n += 1
    return n, acc


def duckdb_hash(sql: str, sf_dir: str) -> tuple[list[str], int, int]:
    """Run ``sql`` over the parquet tables in ``sf_dir`` (one view per
    ``<name>.parquet``); return (sorted column names, row count, hash)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                p = os.path.join(sf_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{p}')")
        rel = con.sql(sql)
        cols = list(rel.columns)
        n, h = table_hash(cols, rel.fetchall())
    finally:
        con.close()
    return sorted(cols), n, h
