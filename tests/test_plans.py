"""Physical-plan shape tests (SURVEY §4 + the 100 TB design goals):
verify that Catalyst produces the plans the operators were designed
for — broadcasts where intended, pushdown reaching the parquet scan,
column pruning, no cartesian products, whole-stage codegen present.

These tests read ``explain(formatted)`` output: they are the
regression net that keeps future operator changes scale-safe.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.catalog import load_table
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_broadcast_join_is_broadcast(spark):
    """Dims under the hint must hash-broadcast, never shuffle."""
    df = all_specs()["join_broadcast_nation_region"].build(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_dims(spark):
    df = all_specs()["top_revenue_nations"].build(spark, SF)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_parquet(spark):
    """B1/B9: range predicates must appear in PushedFilters."""
    df = all_specs()["project_filter_part"].build(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(p_size,10)" in plan or "p_size" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_column_pruning_reads_subset(spark):
    """A 3-column projection over an 11-column table must scan 3 cols."""
    df = all_specs()["project_filter_part"].build(spark, SF)
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "p_partkey" in read_schema and "p_brand" in read_schema
    assert "p_name" not in read_schema  # untouched column pruned


def test_whole_stage_codegen_active(spark):
    """Aggregations must run inside WholeStageCodegen spans."""
    df = all_specs()["pricing_summary"].build(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("codegen")  # AQE formatted plans omit codegen marks
    assert "WholeStageCodegen subtrees" in buf.getvalue()


def test_topk_uses_take_ordered(spark):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject — a
    per-partition top-k + k-row merge, not a global sort."""
    df = all_specs()["topk_orders"].build(spark, SF)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_theta_join_not_cartesian(spark):
    """Equi+inequality join (user_id plus a ts range) must stay a
    hash/sort-merge join with a residual condition, never a
    cartesian/BNL product."""
    df = all_specs()["multi_touch_attribution"].build(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_anti_join_operators(spark):
    plan_semi = plan_of(all_specs()["join_semi_customers_with_orders"].build(spark, SF))
    plan_anti = plan_of(all_specs()["join_anti_customers_without_orders"].build(spark, SF))
    assert "LeftSemi" in plan_semi
    assert "LeftAnti" in plan_anti


def test_partial_aggregation_before_shuffle(spark):
    """Map-side partial agg (HashAggregate before Exchange) must be
    present: at scale it collapses the shuffle by the group count."""
    li = load_table(spark, SF, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    plan = plan_of(df)
    # formatted plan lists HashAggregate twice (partial + final)
    assert plan.count("HashAggregate") >= 2


def test_scan_count_minimal_for_flagship(spark):
    """The flagship query must scan each table exactly once."""
    df = all_specs()["top_revenue_nations"].build(spark, SF)
    plan = plan_of(df)
    # one InMemoryFileIndex location per table: each scanned exactly once
    assert plan.count("Location: InMemoryFileIndex") == 5


def test_parquet_aggregate_pushdown_reads_only_footers(spark):
    """COUNT/MIN/MAX over a bare scan must push into the parquet
    reader (footer statistics, zero data pages) on the V2 source path
    — the metadata-only shape for table-stats queries over 100 TB.
    Both confs are runtime-settable; restored after."""
    overrides = {
        "spark.sql.sources.useV1SourceList": "",
        "spark.sql.parquet.aggregatePushdown": "true",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        df = spark.read.parquet(f"{SF}/lineitem.parquet").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_orderkey").alias("mn"),
            F.max("l_orderkey").alias("mx"),
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [COUNT(*)" in plan
        row = df.collect()[0]
        assert row.n > 0 and row.mn is not None and row.mx is not None
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """A selective dim filter on a shuffle join must inject Spark's
    runtime Bloom filter (`might_contain`) into the fact side — the
    scan-reduction lever for 100 TB fact⋈dim joins. Locally the join
    is broadcast (better) and the probe side is tiny, so the two
    thresholds are pinned to the values a warehouse-scale plan sees
    organically; `runtime.bloomFilter.enabled` is Spark's default
    `true` and is NOT overridden here."""
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    )
    overrides = {
        # fact side "large": the default 10GB gate, met trivially at scale
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # dim too big to broadcast (at scale: a million-row dim)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        orders = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF, "lineitem")
        df = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_window_topk_uses_group_limit(spark):
    """Per-group top-k must plan as WindowGroupLimit (Spark 3.5+): each
    partition keeps a k-row heap instead of fully sorting every group —
    the difference between O(n log k) and O(n log n) per group at
    100 TB. A regression to a bare Window + Filter would silently keep
    working but sort every customer's entire history."""
    for name in ("window_topk_orders_per_customer", "per_domain_cap"):
        df = all_specs()[name].build(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, f"{name} lost the group-limit plan"


def test_lad_grid_scans_fact_once_and_prereduces(spark):
    """r11: quantile_regression_grid must reduce the fact to the
    (x, y, cnt) histogram BEFORE the 80-way grid explode (histogram
    groupBy below the explode in the plan), and scan lineitem once."""
    df = all_specs()["quantile_regression_grid"].build(spark, SF)
    plan = plan_of(df)
    assert plan.count("Location: InMemoryFileIndex") == 1
    # The explode (Generate) must consume the aggregated histogram.
    # Formatted explain prints the TREE root-first, then per-node
    # detail blocks; search only the tree section — a whole-plan
    # substring check is vacuous, because every node's detail block
    # (including the downstream per-slope HashAggregate's) prints
    # after any tree position (VERDICT r12 item 4).
    tree = plan.split("\n\n")[0]
    assert "Generate" in tree and "HashAggregate" in tree
    gen_pos = tree.index("Generate")
    assert "HashAggregate" in tree[gen_pos:], (
        "explode consumes raw scan, not histogram"
    )


def test_ngram_novelty_no_gram_rejoin(spark):
    """r11: novelty attribution rides min(doc_id) through the gram
    frequency aggregate — the gram stream must never re-join itself
    (no join keyed on the gram column; the only join is doc-keyed)."""
    df = all_specs()["ngram_novelty_docs"].build(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    joins = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln]
    assert all("gram" not in ln for ln in joins), joins


def test_spearman_single_fact_aggregate(spark):
    """r11: the spearman fact table feeds exactly ONE wide aggregate
    (per-price partials); the price midrank attaches inline, so no
    second fact-scale exchange and no fact re-join on price."""
    df = all_specs()["spearman_corr_qty_price"].build(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    # lineitem is scanned for: quantity histogram, per-price partials,
    # bucket carry, and the quantity-histogram's bucket carry — all
    # map-side-reduced. More scans than this means a consumer split
    # defeated ReuseExchange on the heavy aggregate again.
    assert plan.count("Location: InMemoryFileIndex") <= 4
