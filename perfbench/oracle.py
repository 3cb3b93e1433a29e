"""Order-insensitive result digests for the output check.

Each operation's registered ``oracle`` SQL runs once in DuckDB over the
same input dir; every collected Spark result is reduced to the same kind
of digest and compared. The digest covers the sorted column names, the
row count and a hash of the sorted canonical rows.

Cells are canonicalised by value, not by carrier type: every number
becomes ``repr(float(v))`` (so ``5``, ``5.0`` and ``Decimal('5.000000')``
agree), timestamps and dates become ISO strings, nested rows, arrays and
maps become tuples.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None).isoformat()
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((_cell(k), _cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):  # arrays, and pyspark Rows (tuples)
        return tuple(_cell(x) for x in v)
    return str(v)


def digest(columns: list[str], rows) -> tuple:
    """(sorted column names, row count, sha256 of sorted canonical rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join(canon).encode()).hexdigest()
    return tuple(sorted(columns)), len(canon), h


def connect(input_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table in ``input_dir``."""
    con = duckdb.connect()
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(input_dir, f)}'"
            )
    return con


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())
