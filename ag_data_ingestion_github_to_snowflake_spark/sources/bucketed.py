"""Bucketed-table layout: the shuffle-free path for repeated big joins.

At 100 TB the dominant cost of a fact-fact join (lineitem ⋈ orders on
orderkey) is the shuffle of BOTH sides. If the tables are written
bucketed on the join key with the same bucket count, Spark's scan
exposes the hash-partitioning to the planner and the sort-merge join
runs with NO Exchange on either side — the shuffle is paid ONCE at
write time and amortized over every subsequent join, which is how
warehouse fact tables are actually laid out (Hive/Spark bucketing,
Iceberg bucket partition transforms).

The layout is a ``staged`` copy of the fixture table, registered as an
EXTERNAL datasource table (explicit ``path``) so nothing depends on the
session's warehouse directory — a bare session has no configured
warehouse and must not write to its cwd.

The reference stages everything as flat JSON (no layout control at
all: src/extract_github_data.py writes one array per page); bucketing
is net-new scale capability.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ag_data_ingestion_github_to_snowflake_spark.catalog import load_table
from ag_data_ingestion_github_to_snowflake_spark.sources.staging import staged

# (fixture table, bucket key, other columns to keep)
Side = tuple[str, str, Sequence[str]]


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


def _register(spark: SparkSession, table: str, key: str, buckets: int, path: str) -> None:
    """Register an existing layout without rewriting it. The columns come
    from the Spark schema in the staged files' parquet footer, so the
    table always declares the schema its files were written with."""
    part = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
    meta = pq.read_schema(os.path.join(path, part)).metadata
    schema = T.StructType.fromJson(
        json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
    )
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING PARQUET "
        f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) INTO {buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def _bucketed(spark: SparkSession, sf: str, side: Side, buckets: int) -> DataFrame:
    """Stage one side bucketed on its key and return its catalog table.
    The stage prefix names the table, bucket count, key and columns, so
    a different bucket spec or projection never reuses this layout."""
    src, key, cols = side
    prefix = "_".join(["ag_bkt", src, f"{buckets}x{key}", *cols])

    def build(stage: str) -> None:
        df = load_table(spark, sf, src).select(key, *cols)
        write_bucketed(df, _table_name(stage), key, buckets, stage)

    stage = staged(prefix, sf, [f"{src}.parquet"], build)
    table = _table_name(stage)
    if not spark.catalog.tableExists(table):
        _register(spark, table, key, buckets, stage)
    return spark.table(table)


def _table_name(stage: str) -> str:
    """Catalog name of a staged layout: its dir name as an identifier."""
    return re.sub(r"\W", "_", os.path.basename(stage))


def bucketed_pair(
    spark: SparkSession, sf: str, left: Side, right: Side, buckets: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Stage both sides of a join as co-bucketed tables (same bucket
    count, join key as bucket key) and return the catalog-backed frames
    whose scans carry the bucket partitioning. Each layout is written
    once per fixture and reused until its source table is rewritten; a
    fresh session re-registers it from the files, with no rewrite."""
    return _bucketed(spark, sf, left, buckets), _bucketed(spark, sf, right, buckets)
