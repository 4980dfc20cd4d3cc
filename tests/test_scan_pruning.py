"""Scan-side pruning proofs: the formatted/executed plan shows that a
predicate, a partition filter, an aggregate or a group-by reaches the
parquet scan, and AQE coalesces a tiny shuffle at runtime.

Reference grounding: the reference caches raw pages and relies on the
warehouse for pruning (README.md:285-291); in the Spark engine the
parquet layout IS the warehouse, so pushdown is a first-class property
of the sink.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

KEYS = 10_000
ROWS = 40_000


def test_range_predicate_is_pushed_to_scan(spark, tmp_path):
    path = str(tmp_path / "tbl")
    spark.range(ROWS).select(
        F.pmod(F.hash(F.col("id")), F.lit(KEYS)).alias("k"),
        F.col("id").alias("v"),
    ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path).filter((F.col("k") >= 4000) & (F.col("k") < 4400))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    assert "PushedFilters" in text
    assert "GreaterThanOrEqual(k,4000)" in text, text
    assert "LessThan(k,4400)" in text, text
    # and the answer matches the predicate evaluated the slow way
    expected = spark.read.parquet(path).where((F.col("k") >= 4000) & (F.col("k") < 4400))
    assert df.count() == expected.count()


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Hive-layout partition column filters must become PartitionFilters
    (pruned at planning — zero IO for other partitions), not post-scan
    predicates."""
    path = str(tmp_path / "ptbl")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 5).alias("part")
    )
    df.write.partitionBy("part").mode("overwrite").parquet(path)

    q = spark.read.parquet(path).filter(F.col("part") == 3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    text = buf.getvalue()
    assert "PartitionFilters" in text
    assert "(part" in text.split("PartitionFilters", 1)[1][:200]
    assert q.count() == 200


def test_aqe_coalesces_shuffle_partitions(spark):
    """With AQE on, a 32-partition shuffle over tiny data must coalesce
    at runtime (AQEShuffleRead coalesced) — the mechanism that keeps
    shuffle-partition sizing forgiving at any scale factor."""
    df = (
        spark.range(10_000)
        .select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    df.collect()  # AQE finalizes the plan only on execution
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    assert "AdaptiveSparkPlan" in text
    assert "AQEShuffleRead" in text
    assert "coalesced" in text.lower()


def test_aggregate_pushdown_reaches_scan(spark):
    """metadata_agg_pushdown must show PushedAggregation in the DSv2
    scan — the COUNT/MIN/MAX is answered from footer statistics, not a
    row scan (plans/scale_ops.py:metadata_agg_pushdown)."""
    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs

    df = all_specs()["metadata_agg_pushdown"].build(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [COUNT(*)" in plan, plan[:2000]
    row = df.collect()[0]
    assert row["n_orders"] == 1500 and row["min_key"] == 0


def test_runtime_bloom_filter_injected(spark):
    """runtime_bloom_filter_join must carry an injected might_contain
    pre-filter on the fact side (plans/scale_ops.py)."""
    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs

    df = all_specs()["runtime_bloom_filter_join"].build(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan and "bloom_filter_agg" in plan, plan[:2000]


def test_group_by_pushdown_reaches_scan(spark):
    """partition_grouped_pushdown must show PushedGroupBy on the
    partition column plus a pushed COUNT — the rollup is answered
    from directory + footer metadata (plans/scale_ops.py)."""
    from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs

    df = all_specs()["partition_grouped_pushdown"].build(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedGroupBy: [event_type]" in plan, plan[:2000]
    assert "PushedAggregation: [COUNT(*)]" in plan, plan[:2000]
    assert sum(r["n_events"] for r in df.collect()) == 1000
