"""Bucketed-table layout: the shuffle-free path for repeated big joins.

At 100 TB the dominant cost of a fact-fact join (lineitem ⋈ orders on
orderkey) is the shuffle of BOTH sides. If the tables are written
bucketed on the join key with the same bucket count, Spark's scan
exposes the hash-partitioning to the planner and the sort-merge join
runs with NO Exchange on either side — the shuffle is paid ONCE at
write time and amortized over every subsequent join, which is how
warehouse fact tables are actually laid out (Hive/Spark bucketing,
Iceberg bucket partition transforms).

``write_bucketed`` registers an EXTERNAL datasource table (explicit
``path``) so nothing depends on the session's warehouse directory —
the driver's bare session has no configured warehouse and must not
write to its cwd.

The reference stages everything as flat JSON (no layout control at
all: src/extract_github_data.py writes one array per page); bucketing
is net-new scale capability.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ag_data_ingestion_github_to_snowflake_spark.sources.staging import write_marker


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    path: str,
) -> None:
    """(Re)create ``table`` as an external parquet table bucketed on
    ``key`` into ``buckets`` files, sorted within buckets on the key so
    the merge side of an SMJ needs no extra sort."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.write.format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def _ensure_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    path: str,
    src_mtime: float | None,
    fingerprint_extra: str = "",
) -> DataFrame:
    """Stage ``df`` as a bucketed external table, reusing an existing
    layout when it is newer than ``src_mtime``, so the layout shuffle is
    paid once rather than on every build. A fresh session that finds a
    fresh layout re-registers the catalog entry with CREATE TABLE ...
    CLUSTERED BY ... LOCATION — no data rewrite — so the bucket metadata
    the planner needs survives session churn.

    Reuse also requires the marker's fingerprint (source identity +
    projected schema + bucket spec) to match: an mtime-only marker under
    a basename-tagged temp path could serve stale parquet when two sf
    dirs share a basename, or when the caller's projection changed in
    code — the re-register branch would then declare the current schema
    over old files and read missing columns as NULLs."""
    marker = os.path.join(path, "_staged")
    fingerprint = (
        f"{fingerprint_extra}|{df.schema.simpleString()}|{key}|{buckets}\n"
    )
    marker_fingerprint = None
    if os.path.exists(marker):
        with open(marker) as f:
            marker_fingerprint = f.read()
    fresh = (
        src_mtime is not None
        and marker_fingerprint == fingerprint
        and os.path.getmtime(marker) >= src_mtime
    )
    if not fresh:
        write_bucketed(df, table, key, buckets, path)
        write_marker(marker, fingerprint)
        return spark.table(table)
    if not spark.catalog.tableExists(table):
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING PARQUET "
            f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) INTO {buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(table)


def bucketed_pair(
    spark: SparkSession,
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    tag: str,
    buckets: int = 8,
    src_mtime: float | None = None,
    src_id: str = "",
) -> tuple[DataFrame, DataFrame]:
    """Stage both sides as co-bucketed tables (same bucket count, join
    key as bucket key) and return the catalog-backed frames whose scans
    carry the bucket partitioning. ``tag`` namespaces the tables/paths
    so different fixture scales never collide. ``src_mtime`` (the max
    mtime of the source files) enables layout reuse across builds —
    omit it to force a rewrite every call. ``src_id`` (e.g. the FULL
    source dir path) disambiguates tag collisions in the reuse
    fingerprint."""
    base = os.path.join(tempfile.gettempdir(), f"ag_bucketed_{tag}")
    lt, rt = f"ag_bkt_left_{tag}", f"ag_bkt_right_{tag}"
    bl = _ensure_bucketed(
        spark, left, lt, left_key, buckets, os.path.join(base, lt),
        src_mtime, fingerprint_extra=src_id,
    )
    br = _ensure_bucketed(
        spark, right, rt, right_key, buckets, os.path.join(base, rt),
        src_mtime, fingerprint_extra=src_id,
    )
    return bl, br
