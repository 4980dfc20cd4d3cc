"""assign_sequential_ids: distributed contiguous numbering invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.operators.ids import (
    assign_sequential_ids,
)


def test_ids_are_dense_and_order_preserving(spark):
    df = spark.createDataFrame(
        [(k,) for k in (42, 7, 99, 1, 500, 3, 250, 12)], "key long"
    )
    out, n = assign_sequential_ids(df, "key", num_partitions=3)
    by_key = sorted(out.collect(), key=lambda r: r.key)
    # dense 0..n-1, and ascending with the key
    assert [r.seq_id for r in by_key] == list(range(n))
    assert n == 8


def test_ids_independent_of_input_partitioning(spark):
    data = [(k,) for k in range(100, 0, -1)]
    a, _ = assign_sequential_ids(
        spark.createDataFrame(data, "key long").repartition(13), "key"
    )
    b, _ = assign_sequential_ids(
        spark.createDataFrame(data, "key long").coalesce(1), "key"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ids_handle_fewer_rows_than_partitions(spark):
    df = spark.createDataFrame([(5,), (2,)], "key long")
    out, n = assign_sequential_ids(df, "key", num_partitions=8)
    assert sorted((r.key, r.seq_id) for r in out.collect()) == [(2, 0), (5, 1)]
    assert n == 2


def test_counts_and_rows_share_one_materialization(spark):
    """Rows out of a shuffle reach the range sampler in no fixed order,
    so a re-run of the range exchange may cut different partitions:
    offsets counted on one run and applied to another's rows leave
    gaps and overlaps."""
    src = spark.range(0, 40_000, numPartitions=8).select(
        (F.col("id") * 7919 % 20_011).alias("key")
    )
    df = src.groupBy("key").count()
    out, n = assign_sequential_ids(df, "key", num_partitions=6)
    rows = sorted(out.select("key", "seq_id").collect())
    assert n == len(rows) == 20_011
    assert [r.seq_id for r in rows] == list(range(n))
