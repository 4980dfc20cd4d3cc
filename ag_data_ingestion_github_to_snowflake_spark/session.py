"""SparkSession factory tuned for the engine.

The reference (``/root/reference/src/extract_github_data.py``) is a
single-threaded, single-process pipeline; this engine replaces it with a
Spark-native design. All scale-sensitive knobs live here so every entry
point (driver contract, tests, bench) gets the same tuned session.

Scale notes (100 TB design):
- AQE on: runtime join-strategy switching, skew-join splitting, and
  post-shuffle partition coalescing are the main levers that make the
  same logical plans survive a 1000-executor cluster.
- ``spark.sql.shuffle.partitions`` is a *default*; AQE coalesces down.
  On a real cluster set it to ~2-3x total cores.
- Locally the master is ``local[<cores this process may run on>]`` and
  the driver heap half of physical memory, at most 16g;
  ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override both.
- Arrow enabled for every pandas-UDF boundary (the slow-path escape
  hatch used by dedup/similarity/multimodal operators).
- UTC session timezone: fixtures carry timestamp columns and the DuckDB
  oracle runs in UTC; anything else breaks value-hash parity.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 16g."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 16 * 1024)}m"


def get_spark(app_name: str = "ag-data-ingestion-spark", master: str | None = None) -> SparkSession:
    """Build (or get) a SparkSession with the engine's tuned defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        # AQE: coalesce small shuffle partitions, convert to broadcast
        # joins at runtime, split skewed partitions.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce cached-plan output too, so small persisted
        # intermediates stop paying full-width task launch on every read
        # (OPTIMIZATION_r14.md §9).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Arrow for pandas UDF / toPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # Fixtures store TIMESTAMP(ns), which the Spark parquet reader
        # rejects; read nanos as LongType and let the catalog convert to
        # microsecond timestamps (matches DuckDB's ns->us cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Deterministic float formatting helps oracle parity.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # Single-JVM local mode: driver heap IS executor heap. 8g was
        # measured GC-thrashing the 100x streaming drains (the complete-
        # mode memory sink holds millions of rows; same run varied
        # 65 s <-> 344 s); 16g removes the thrash on a 128 GiB host,
        # and half of memory keeps a small host out of swap. Real
        # clusters size executors per SF.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    return builder.getOrCreate()
