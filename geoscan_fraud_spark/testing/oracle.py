"""DuckDB-oracle comparison used by tools/check_oracle.py and the tests.

Mirrors the driver's gate: row count + column names (sorted) + value
equality, order-insensitive (rows sorted after normalizing each value to a
canonical string; floats via repr, so equality is exact-bit, matching a
value-hash comparison).
"""

from __future__ import annotations

import math

import duckdb

FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def compare_query(spark, con, fn, sql: str, sf_dir: str):
    """Returns (status, message); status in {'pass','fail'}."""
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(scols) != sorted(dcols):
        return ("fail", f"columns {sorted(scols)} vs {sorted(dcols)}")
    if len(srows) != len(drows):
        return ("fail", f"rowcount {len(srows)} vs {len(drows)}")
    a, b = _rowset(scols, srows), _rowset(dcols, drows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return ("fail", f"value mismatch, first diffs: {diffs}")
    return ("pass", f"{len(srows)} rows")
