"""Sinks (A6, A15): partitioned append sink + run-metrics table.

The reference serializes one envelope JSON per run to
``s3://bucket/yyyy/mm/dd/...`` (/root/reference/src/
extract_github_data.py:554-600). Spark-first: the repositories are a
flat table written with ``partitionBy(year, month, day)`` — the same
S3 layout, but readable back with partition pruning — and the run
metadata envelope becomes rows in a separate ``_run_metrics`` table
(idiomatic Spark never nests a dataset inside a metadata document).

At 100 TB: date partitioning bounds each file-commit transaction;
`maxRecordsPerFile` caps file sizes; the sink is append-only and the
table is deduplicated on read because the upstream
offers at-least-once delivery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_date_partitions(df: DataFrame, ts_col: str) -> DataFrame:
    """Derive year/month/day partition columns from a timestamp column
    (the reference's strftime %Y/%m/%d key layout, :572-578)."""
    return (
        df.withColumn("year", F.date_format(ts_col, "yyyy"))
        .withColumn("month", F.date_format(ts_col, "MM"))
        .withColumn("day", F.date_format(ts_col, "dd"))
    )


def partitioned_append(
    df: DataFrame,
    path: str,
    ts_col: str = "updated_at",
    fmt: str = "parquet",
    max_records_per_file: int = 1_000_000,
) -> None:
    """A6: date-partitioned append sink (parquet default, json option)."""
    (
        with_date_partitions(df, ts_col)
        .write.mode("append")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("year", "month", "day")
        .format(fmt)
        .save(path)
    )


def write_run_metrics(metrics_df: DataFrame, path: str) -> None:
    """A15 metadata envelope -> append-only run-metrics table."""
    metrics_df.write.mode("append").parquet(path)
