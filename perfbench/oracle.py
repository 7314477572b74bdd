"""Correctness gate: each Spark query result against its DuckDB oracle.

The comparison is the catalog's own contract: sorted column names, row
count, and an order-insensitive multiset of cell values with exact float
equality (the catalog is written for bit parity with DuckDB). Both sides
reduce to one digest, so a mismatch is a single string comparison.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math


def _norm(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(_norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: lower-cased sorted column
    names, then every row's cells in that column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted(repr(tuple(_norm(row[i]) for i in order)) for row in rows)
    h = hashlib.sha256(repr(sorted(c.lower() for c in columns)).encode())
    for line in lines:
        h.update(line.encode())
    return f"{len(lines)}:{h.hexdigest()[:16]}"


def duck_connection(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet/*.parquet')"
        )
    return con


def spark_digest(df) -> str:
    return digest(df.columns, df.collect())


def duck_digest(con, sql: str) -> str:
    rel = con.sql(sql)
    return digest(rel.columns, rel.fetchall())
