"""Bucketed-layout tests: the co-located join must plan WITHOUT any
Exchange on either side (the whole point of paying the shuffle at
write time), and the result must equal the plain join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.catalog import load_table
from ag_data_ingestion_github_to_snowflake_spark.sources.bucketed import (
    bucketed_pair,
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pair(spark):
    return bucketed_pair(
        spark,
        SF,
        ("lineitem", "l_orderkey", ["l_extendedprice"]),
        ("orders", "o_orderkey", ["o_orderpriority"]),
    )


def _with_conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    return old


def test_bucketed_join_plans_without_exchange(spark, pair):
    bli, bord = pair
    # Force the SMJ path (the tiny fixture would otherwise broadcast,
    # which hides the property under test).
    old = _with_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bli.join(bord, bli["l_orderkey"] == bord["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # Within-bucket sortBy means the merge needs no extra sort on
        # the scan output (Sort nodes may still appear if Spark cannot
        # use the file ordering; assert the cheap property only).
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_matches_plain_join(spark, pair):
    bli, bord = pair
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority"
    )

    def agg(l, o):
        return (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
        )

    got = {r["o_orderpriority"]: (r["n"], r["total"])
           for r in agg(bli, bord).collect()}
    want = {r["o_orderpriority"]: (r["n"], r["total"])
            for r in agg(li, orders).collect()}
    assert got == want


def test_write_bucketed_is_rerunnable(spark, tmp_path):
    """Overwrite semantics: writing the same table to the same path
    twice (a restage after the fixture changed) must not fail or
    duplicate rows."""
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    for _ in range(2):
        write_bucketed(orders, "test_rerun", "o_orderkey", 8, str(tmp_path / "t"))
    try:
        assert spark.table("test_rerun").count() == orders.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS test_rerun")
