"""Fixture/table registration: parquet dir -> DataFrames + temp views.

Replaces the reference's ad-hoc file handling (cache dir + S3 keys,
``/root/reference/src/extract_github_data.py:293-344, 554-600``) with a
catalog of Parquet-backed tables. At 100 TB these would be external
tables (Delta/Iceberg) partitioned on date keys; the API here is
identical either way: ``load_tables`` returns lazily-planned DataFrames
so Catalyst sees the parquet scans directly (predicate pushdown +
column pruning reach the file source).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Per-session plan cache for fixture scans (``OPTIMIZATION_r13.md``
# §1: metadata overhead). ``spark.read.parquet`` costs ~200 ms per
# call on this box (py4j + driver-side footer/schema read + file
# listing); a full bench issues >1000 of them for the same ten files.
# Caching the analyzed DataFrame (keyed by resolved path + file mtime,
# stored as an attribute ON the session so it dies with it) removes
# that re-listing exactly like a metastore/table format does at 100 TB
# (guide §6: "manifest metadata avoids directory listing"). This
# caches a PLAN object only — execution still scans parquet at every
# action (no .cache()/persist involved), so bench reps and the oracle
# gate keep computing from the files; the mtime in the key invalidates
# staleness for tools that regenerate fixtures in-place.
_SCAN_CACHE_ATTR = "_ag_scan_plan_cache"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    ``events.ts`` is stored as TIMESTAMP(ns), which Spark's parquet
    reader cannot represent; with ``nanosAsLong`` it arrives as a raw
    nanosecond LongType and is normalized here to a microsecond
    TIMESTAMP (the same truncation DuckDB applies casting ns->us), so
    Spark results hash-match the oracle.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    key = (os.path.abspath(path), mtime)
    session_cache = getattr(spark, _SCAN_CACHE_ATTR, None)
    if session_cache is None:
        session_cache = {}
        try:
            setattr(spark, _SCAN_CACHE_ATTR, session_cache)
        except AttributeError:  # exotic session proxy without __dict__
            session_cache = None
    if session_cache is not None and key in session_cache:
        return session_cache[key]
    df = spark.read.parquet(path)
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # ns -> us truncation, then NTZ so pandas/Arrow sees naive
            # UTC datetimes exactly like DuckDB's TIMESTAMP.
            # Integer division: ns values (~1.7e18) exceed double's 2^53
            # mantissa, so `/ 1000` + floor would be off by ±1 us.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    if session_cache is not None:
        session_cache[key] = df
    return df


# (path, mtime) -> number of independently-scannable parquet units
# (row groups summed over part files). Pure footer metadata, tiny.
_SCAN_UNITS_CACHE: dict[tuple[str, float | None], int] = {}


def scan_units(sf_dir: str, name: str) -> int:
    """How many parallel scan tasks the table's layout can yield: the
    total parquet row-group count across part files. A single-row-group
    file is unsplittable by Spark (a row group is read whole by one
    task) no matter what ``maxPartitionBytes`` says."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    key = (os.path.abspath(path), mtime)
    if key in _SCAN_UNITS_CACHE:
        return _SCAN_UNITS_CACHE[key]
    units = 0
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            for part in os.listdir(path):
                if part.endswith(".parquet") and not part.startswith("_"):
                    units += pq.ParquetFile(
                        os.path.join(path, part)
                    ).metadata.num_row_groups
        else:
            units = pq.ParquetFile(path).metadata.num_row_groups
    except Exception:
        units = 0
    _SCAN_UNITS_CACHE[key] = units
    return units


def parallelize_cpu_scan(
    df: DataFrame, spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Round-robin repartition a scan feeding CPU-heavy per-row work —
    but ONLY when the source layout cannot parallelize the scan itself.

    A single-row-group parquet file scans as ONE task regardless of
    size, so expression-heavy per-row work downstream (md5 fan-outs,
    64-dim array folds, tokenize + hash) would run single-threaded.
    Tables with >= cores/2 row groups get no extra exchange. Call it
    AFTER projecting to the columns the heavy stage needs. Evidence:
    OPTIMIZATION_r13.md §2.
    """
    cores = spark.sparkContext.defaultParallelism
    if scan_units(sf_dir, name) >= max(2, cores // 2):
        return df
    return df.repartition(cores)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table under ``sf_dir``."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for ``spark.sql``."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
