"""Correctness gate: order-insensitive result fingerprints and the DuckDB
oracle that produces the expected ones."""

from __future__ import annotations

import datetime as dt
import decimal
import math


def _canon(v):
    """One comparable value per cell: engines disagree on numeric types
    (DECIMAL vs DOUBLE, INT vs BIGINT) and on the last bits of a double
    quotient, so numbers compare at nine significant digits."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return float(f"{f:.9g}") + 0.0  # folds -0.0 into 0.0
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def fingerprint(rows) -> tuple[int, int]:
    """(row count, order-insensitive multiset hash) of an iterable of row
    tuples — Spark ``Row`` objects and DuckDB tuples alike."""
    n, acc = 0, 0
    for r in rows:
        acc = (acc + hash(tuple(_canon(x) for x in r))) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, acc


def duckdb_connect(views: dict):
    """In-memory DuckDB with each ``name -> parquet path | arrow table``
    registered as a view."""
    import duckdb

    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    for name, src in views.items():
        if isinstance(src, str):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{src}')")
        else:
            con.register(name, src)
    return con


def oracle(con, sql: str) -> tuple[int, int]:
    return fingerprint(con.execute(sql).fetchall())
