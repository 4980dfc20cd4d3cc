"""Output checks: order-insensitive fingerprints of result tables and
the DuckDB side of every comparison.

A fingerprint is (row count, sorted column names, digest of the sorted
normalized rows), the method of ``tests/oracle_harness.py``: doubles
compare at 9 significant digits, integral floats print as integers,
nulls and NaNs print alike, so a Spark result and its DuckDB oracle
agree whenever their values do.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb
import pyarrow as pa

from ag_data_ingestion_github_to_snowflake_spark.catalog import TABLES


def _norm(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def fingerprint(table: pa.Table) -> tuple[int, tuple[str, ...], str]:
    cols = tuple(sorted(table.column_names))
    columns = [[_norm(v) for v in table.column(c).to_pylist()] for c in cols]
    rows = sorted("|".join(cells) for cells in zip(*columns)) if cols else []
    return table.num_rows, cols, hashlib.md5("\n".join(rows).encode()).hexdigest()


def duckdb_fixtures(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def duckdb_fingerprint(con: duckdb.DuckDBPyConnection, sql: str):
    return fingerprint(con.execute(sql).arrow())


def diff(expected, got) -> str:
    """One line saying which fingerprint part differs."""
    if expected[1] != got[1]:
        return f"columns {got[1]} != {expected[1]}"
    if expected[0] != got[0]:
        return f"rows {got[0]} != {expected[0]}"
    return "value digest differs"
