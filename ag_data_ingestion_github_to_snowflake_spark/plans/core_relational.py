"""Core relational queries: scans, projections, filters, aggregations,
sorts/limits, set ops (SURVEY §2.B1-B9, B16-B28).

These re-express, on the driver fixtures, the reference's documented SQL
consumption layer (``/root/reference/README.md:293-312``: top-k,
group-by count, filtered group-by average) plus the capability-completion
operators. All pure DataFrame API — Catalyst handles pushdown/pruning.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ag_data_ingestion_github_to_snowflake_spark.functions.exact import DEC2 as DEC
from ag_data_ingestion_github_to_snowflake_spark.functions.exact import DEC6, count_if, davg, dsum  # noqa: F401
from ag_data_ingestion_github_to_snowflake_spark.operators.portable_math import (
    floor_e6,
    floor_e6_sql,
    portable_ln_sql,
)
from ag_data_ingestion_github_to_snowflake_spark.catalog import parallelize_cpu_scan
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import register, t


# ---------------------------------------------------------------------------
# B1 parquet scan + B4 projection/rename + B9 range predicate
# ---------------------------------------------------------------------------
@register(
    "project_filter_part",
    oracle="""
    SELECT p_partkey AS part_id,
           p_brand   AS brand,
           p_retailprice AS price
    FROM part
    WHERE p_size BETWEEN 10 AND 30 AND p_retailprice > 1200.0
    """,
    survey_ids=("B1", "B4", "B9"),
)
def project_filter_part(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet scan -> column projection + rename -> range predicates.

    Mirrors the reference's 14-column projection at ingest
    (/root/reference/src/extract_github_data.py:494-527) as a pure
    Catalyst projection: pushdown reaches the parquet scan.
    """
    return (
        t(spark, sf, "part")
        .filter(F.col("p_size").between(10, 30) & (F.col("p_retailprice") > 1200.0))
        .select(
            F.col("p_partkey").alias("part_id"),
            F.col("p_brand").alias("brand"),
            F.col("p_retailprice").alias("price"),
        )
    )


# ---------------------------------------------------------------------------
# B6 equality filter (reference README.md:195 owner_type filter analog)
# ---------------------------------------------------------------------------
@register(
    "filter_eq_events",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE event_type = 'purchase'
    """,
    survey_ids=("B6",),
)
def filter_eq_events(spark: SparkSession, sf: str) -> DataFrame:
    """Equality filter (reference: WHERE owner_type = 'Organization')."""
    return (
        t(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )


# ---------------------------------------------------------------------------
# B7/B8 compound all-columns-non-null predicate (validation semantics,
# reference src/extract_github_data.py:530-547)
# ---------------------------------------------------------------------------
@register(
    "filter_all_notnull_customer",
    oracle="""
    SELECT count(*) AS valid_rows
    FROM customer
    WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
      AND c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL
      AND c_mktsegment IS NOT NULL
    """,
    survey_ids=("B7", "B8", "A12"),
)
def filter_all_notnull_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Required-field null validation as a compound predicate."""
    df = t(spark, sf, "customer")
    pred = reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in df.columns])
    return df.filter(pred).agg(F.count("*").alias("valid_rows"))


# ---------------------------------------------------------------------------
# B16 GROUP BY + COUNT(*)  (reference README.md:301-304)
# ---------------------------------------------------------------------------
@register(
    "group_count_mktsegment",
    oracle="""
    SELECT c_mktsegment AS segment, count(*) AS n
    FROM customer
    GROUP BY c_mktsegment
    """,
    survey_ids=("B16",),
)
def group_count_mktsegment(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY + COUNT(*) — the reference's repo-count-per-owner-type."""
    return t(spark, sf, "customer").groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# B17 filtered GROUP BY + AVG + ORDER BY (reference README.md:306-311)
# ---------------------------------------------------------------------------
@register(
    "group_avg_acctbal",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal,
           count(*) AS n
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    """,
    survey_ids=("B17",),
)
def group_avg_acctbal(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered GROUP BY + AVG — the reference's avg-stars-per-language."""
    return (
        t(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 0)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            davg("c_acctbal", "avg_bal"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# B18 global aggregate (reference run-metadata counters,
# src/extract_github_data.py:730-742)
# ---------------------------------------------------------------------------
@register(
    "global_agg_orders",
    oracle="""
    SELECT count(*) AS n_orders,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
    FROM orders
    """,
    survey_ids=("B18", "A15"),
)
def global_agg_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Global count/min/max/sum — the reference's run-summary metadata."""
    return t(spark, sf, "orders").agg(
        F.count("*").alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        dsum("o_totalprice", "total_rev"),
    )


# ---------------------------------------------------------------------------
# B19 conditional aggregation (valid/invalid/failed counters,
# src/extract_github_data.py:704-711)
# ---------------------------------------------------------------------------
@register(
    "conditional_counts_orders",
    oracle="""
    SELECT count(*) AS total,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
           CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_large
    FROM orders
    """,
    survey_ids=("B19", "A13"),
)
def conditional_counts_orders(spark: SparkSession, sf: str) -> DataFrame:
    """count-if split counters — the reference's valid/invalid/failed tallies."""
    df = t(spark, sf, "orders")
    return df.agg(
        F.count("*").alias("total"),
        count_if(F.col("o_orderstatus") == "F", "n_finished"),
        count_if(F.col("o_orderstatus") == "O", "n_open"),
        count_if(F.col("o_orderstatus") == "P", "n_pending"),
        count_if(F.col("o_totalprice") > 100000, "n_large"),
    )


# ---------------------------------------------------------------------------
# B20 COUNT(DISTINCT)
# ---------------------------------------------------------------------------
@register(
    "count_distinct_customers",
    oracle="""
    SELECT o_orderstatus AS status,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    survey_ids=("B20",),
)
def count_distinct_customers(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT) per group."""
    return t(spark, sf, "orders").groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# B21 approx_count_distinct — approximate, rows-only check
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_users",
    # Rows-only: HLL++ estimates are
    # engine-specific by design — no SQL engine reproduces Spark's
    # register layout. Correctness evidence lives in the oracle-green
    # twin `hll_verified_users_by_type` (same rollup, estimate checked
    # against exact distinct within rsd bounds) and the accuracy
    # contract in tests/test_sketches.py.
    oracle=None,
    survey_ids=("B21",),
)
def approx_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB-scale cardinality path.

    At 100 TB an exact COUNT(DISTINCT) is a full shuffle of the key set;
    approx_count_distinct is a fixed-size sketch mergeable map-side.
    """
    return t(spark, sf, "events").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# B22 rollup / cube
# ---------------------------------------------------------------------------
@register(
    "rollup_orders",
    oracle="""
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    survey_ids=("B22",),
)
def rollup_orders(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP hierarchy totals (status -> priority -> grand total)."""
    return (
        t(spark, sf, "orders")
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_totalprice"),
        )
        .rollup("status", "priority")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "rev"))
    )


@register(
    "cube_counts",
    oracle="""
    SELECT l_returnflag AS rflag,
           l_linestatus AS lstatus,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    survey_ids=("B22",),
)
def cube_counts(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over two grouping dims."""
    return (
        t(spark, sf, "lineitem")
        .select(F.col("l_returnflag").alias("rflag"), F.col("l_linestatus").alias("lstatus"))
        .cube("rflag", "lstatus")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# B23 percentiles / stddev (exact ints -> deterministic)
# ---------------------------------------------------------------------------
@register(
    "percentiles_nchars",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS p50,
           CAST(quantile_cont(n_chars, 0.9) AS DOUBLE) AS p90,
           ROUND(stddev_samp(n_chars), 4) AS sd
    FROM documents
    GROUP BY lang
    """,
    survey_ids=("B23",),
)
def percentiles_nchars(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles + stddev per language."""
    return t(spark, sf, "documents").groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.expr("CAST(percentile(n_chars, 0.5) AS DOUBLE)").alias("p50"),
        F.expr("CAST(percentile(n_chars, 0.9) AS DOUBLE)").alias("p90"),
        F.round(F.stddev_samp("n_chars"), 4).alias("sd"),
    )


@register(
    "mad_outliers_events",
    # Both engines use the same exact interpolated median
    # (percentile / quantile_cont) and the round-6-then-compare
    # convention on the outlier threshold, so the per-group counts are
    # engine-identical (the quantile_hash_sample precedent).
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(d.med), 6) AS med,
           ROUND(MIN(mad.mad), 6) AS mad,
           CAST(SUM(CASE WHEN ROUND(d.adev, 6)
                              > ROUND(3 * 1.4826 * mad.mad, 6)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad USING (event_type)
    GROUP BY d.event_type
    """,
    survey_ids=("B23", "B16", "B11"),
    description="MAD robust outlier counts per event type (median absolute deviation)",
)
def mad_outliers_events(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier detection per group: flag values whose absolute
    deviation from the group median exceeds 3 x 1.4826 x MAD (the
    consistency-scaled median absolute deviation — the standard
    mean/stddev-free outlier rule that one wild value cannot drag).

    Plan shape: two tiny per-group stat aggregates (one row per
    event_type) BROADCAST back onto the fact scan — the data is
    scanned twice map-side and shuffled only for the per-group
    aggregates. Exact interpolated medians match DuckDB's
    quantile_cont; at 100 TB swap in approx_percentile for the two
    medians (same plan, sketch-bounded memory) — the exact/approx
    twin convention of percentiles_nchars / approx_percentiles_nchars.
    """
    ev = t(spark, sf, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(
                (
                    F.round(F.col("adev"), 6)
                    > F.round(F.lit(3 * 1.4826) * F.col("mad"), 6)
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# B24 ORDER BY DESC + LIMIT: top-k  (reference README.md:295-299
# "Top 10 most-starred repositories")
# ---------------------------------------------------------------------------
@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    survey_ids=("B24",),
)
def topk_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 by price with unique tiebreak (reference's top-10-stars).

    Spark executes this as TakeOrderedAndProject: per-partition top-k
    then a k-row merge on the driver — no global sort, scale-safe.
    """
    return (
        t(spark, sf, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# B25 LIMIT with deterministic order (reference budget truncation :662)
# ---------------------------------------------------------------------------
@register(
    "limit_first_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    ORDER BY o_orderkey
    LIMIT 25
    """,
    survey_ids=("B25", "A11"),
)
def limit_first_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Budget-limit slice with total order (reference repo_list[:max])."""
    return (
        t(spark, sf, "orders")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# B26 DISTINCT / dropDuplicates
# ---------------------------------------------------------------------------
@register(
    "distinct_nation_segment",
    oracle="""
    SELECT DISTINCT c_nationkey AS nationkey, c_mktsegment AS segment
    FROM customer
    """,
    survey_ids=("B26",),
)
def distinct_nation_segment(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT over a composite key (id-idempotency analog)."""
    return (
        t(spark, sf, "customer")
        .select(F.col("c_nationkey").alias("nationkey"), F.col("c_mktsegment").alias("segment"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# B27 UNION ALL (daily-file accumulation, README.md:151-156)
# ---------------------------------------------------------------------------
@register(
    "union_all_orders",
    oracle="""
    SELECT * FROM (
      SELECT o_orderkey, 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    """,
    survey_ids=("B27",),
)
def union_all_orders(spark: SparkSession, sf: str) -> DataFrame:
    """UNION ALL of two filtered scans (daily partition accumulation)."""
    o = t(spark, sf, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("urgent").alias("bucket")
    )
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_orderkey", F.lit("high").alias("bucket")
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# B28 INTERSECT / EXCEPT
# ---------------------------------------------------------------------------
@register(
    "intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    survey_ids=("B28",),
)
def intersect_nations(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT: nations having both customers and suppliers."""
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    survey_ids=("B28",),
)
def except_nations(spark: SparkSession, sf: str) -> DataFrame:
    """EXCEPT: nations with customers but no suppliers."""
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    # subtract == EXCEPT DISTINCT (set semantics, matching the SQL oracle)
    return c.subtract(s)


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (B16-B19, B23, B24)
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag AS rflag,
           l_linestatus AS lstatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ids=("B16", "B17", "B18", "B19"),
)
def pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter -> groupBy -> multi-agg.

    Partial (map-side) aggregation + 6-group final agg: the canonical
    scale-safe aggregate shape. Decimal-exact sums for oracle parity.
    """
    li = t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp_ntz"))
    # Spread the five decimal partial sums off one scan task (OPTIMIZATION_r13.md §5).
    li = parallelize_cpu_scan(
        li.select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount",
        ),
        spark,
        sf,
        "lineitem",
    )
    disc_price = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount")).cast(DEC)
    return (
        li.groupBy(
            F.col("l_returnflag").alias("rflag"), F.col("l_linestatus").alias("lstatus")
        ).agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# B23 extension: correlation / covariance from exact decimal moments
# ---------------------------------------------------------------------------
def _moment_scan(spark: SparkSession, sf: str, *cols: str) -> DataFrame:
    """lineitem pruned to the moment columns, repartitioned only when
    the source layout cannot split the scan (OPTIMIZATION_r13.md §2): the
    exact-decimal moment sums are the cost of this query family and a
    single-row-group fixture file runs the partial aggregate on ONE
    task. No-op at production row-group counts."""
    return parallelize_cpu_scan(
        t(spark, sf, "lineitem").select(*cols), spark, sf, "lineitem"
    )


@register(
    "stats_corr_quantity_price",
    # Native corr()/covar_samp() accumulate doubles in aggregation
    # order — not reproducible across engines or partitionings. Both
    # sides therefore compute the five raw moments as EXACT decimal
    # sums and assemble corr/covar in double arithmetic, which is then
    # bit-deterministic.
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price,
           ROUND((sxy - sx * sy / n) / (n - 1), 4) AS covar_samp,
           CAST(n AS BIGINT) AS n
    FROM m
    """,
    survey_ids=("B23", "B18", "B43"),
    description="Pearson correlation + sample covariance from exact decimal moments",
)
def stats_corr_quantity_price(spark: SparkSession, sf: str) -> DataFrame:
    """Correlation and covariance of quantity vs price per return flag.

    One aggregation shuffle computing five exact decimal moments
    (mergeable partials — same cost class as any SUM), then scalar
    double math in the projection; ROUND tolerates the final
    assembly's last-ulp variation between engines.
    """
    x = F.col("l_quantity").cast(DEC)
    y = F.col("l_extendedprice").cast(DEC)
    m = (
        _moment_scan(spark, sf, "l_returnflag", "l_quantity", "l_extendedprice")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(y * y).cast("double").alias("syy"),
            F.sum(x * y).cast("double").alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
        F.round((sxy - sx * sy / n) / (n - F.lit(1)), 4).alias("covar_samp"),
        n.cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# B23 extension: full pairwise correlation matrix in ONE pass
# ---------------------------------------------------------------------------
@register(
    "corr_matrix_lineitem",
    # Same exact-decimal-moment convention as stats_corr_quantity_price,
    # generalized: ALL ten moments for three variables ride in a single
    # aggregation, so the whole 3x3 matrix costs one scan + one shuffle
    # — the one-pass sufficient-statistics pattern (the same shape the
    # distributed PCA uses for its covariance).
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_discount      AS DECIMAL(18,2))) AS DOUBLE) AS s3,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s11,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s22,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s33,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s12,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s13,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s23
      FROM lineitem
    )
    SELECT 'l_quantity' AS var_a, 'l_extendedprice' AS var_b,
           ROUND((n * s12 - s1 * s2)
                 / (sqrt(n * s11 - s1 * s1) * sqrt(n * s22 - s2 * s2)), 6) AS r,
           CAST(n AS BIGINT) AS n
    FROM m
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           ROUND((n * s13 - s1 * s3)
                 / (sqrt(n * s11 - s1 * s1) * sqrt(n * s33 - s3 * s3)), 6),
           CAST(n AS BIGINT)
    FROM m
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           ROUND((n * s23 - s2 * s3)
                 / (sqrt(n * s22 - s2 * s2) * sqrt(n * s33 - s3 * s3)), 6),
           CAST(n AS BIGINT)
    FROM m
    """,
    survey_ids=("B23", "B18", "B43"),
    description="3x3 pairwise Pearson matrix from one 10-moment aggregation pass",
)
def corr_matrix_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Pearson correlations among quantity / extendedprice /
    discount from a SINGLE aggregation: all ten exact decimal moments
    (count, three sums, three squares, three cross-products) are
    mergeable partials in one shuffle, then each pair's r is scalar
    double math over the one-row result — the one-pass
    sufficient-statistics pattern that generalizes to any k columns at
    O(k^2) moments per partition, independent of row count (the
    covariance shape ``operators/pca.py`` uses at dim=64)."""
    x = F.col("l_quantity").cast(DEC)
    y = F.col("l_extendedprice").cast(DEC)
    z = F.col("l_discount").cast(DEC)
    m = _moment_scan(
        spark, sf, "l_quantity", "l_extendedprice", "l_discount"
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("s1"),
        F.sum(y).cast("double").alias("s2"),
        F.sum(z).cast("double").alias("s3"),
        F.sum(x * x).cast("double").alias("s11"),
        F.sum(y * y).cast("double").alias("s22"),
        F.sum(z * z).cast("double").alias("s33"),
        F.sum(x * y).cast("double").alias("s12"),
        F.sum(x * z).cast("double").alias("s13"),
        F.sum(y * z).cast("double").alias("s23"),
    )
    n = F.col("n")

    def r(sa, sb, sab, saa, sbb):
        return F.round(
            (n * F.col(sab) - F.col(sa) * F.col(sb))
            / (
                F.sqrt(n * F.col(saa) - F.col(sa) * F.col(sa))
                * F.sqrt(n * F.col(sbb) - F.col(sb) * F.col(sb))
            ),
            6,
        )

    pairs = F.array(
        F.struct(
            F.lit("l_quantity").alias("var_a"),
            F.lit("l_extendedprice").alias("var_b"),
            r("s1", "s2", "s12", "s11", "s22").alias("r"),
        ),
        F.struct(
            F.lit("l_quantity").alias("var_a"),
            F.lit("l_discount").alias("var_b"),
            r("s1", "s3", "s13", "s11", "s33").alias("r"),
        ),
        F.struct(
            F.lit("l_extendedprice").alias("var_a"),
            F.lit("l_discount").alias("var_b"),
            r("s2", "s3", "s23", "s22", "s33").alias("r"),
        ),
    )
    return m.select(F.explode(pairs).alias("p"), n.cast("bigint").alias("n")).select(
        "p.var_a", "p.var_b", "p.r", "n"
    )


# ---------------------------------------------------------------------------
# B36/B43 extension: conditional scalar functions
# ---------------------------------------------------------------------------
@register(
    "conditional_scalar_funcs",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_bucket,
           CAST(LEAST(CAST(c_acctbal AS DECIMAL(18,2)), CAST(5000 AS DECIMAL(18,2))) AS DOUBLE) AS capped_bal,
           CAST(GREATEST(CAST(c_acctbal AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS floored_bal,
           CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                WHEN c_acctbal < 1000 THEN 'low'
                ELSE 'normal' END AS balance_class
    FROM customer
    """,
    survey_ids=("B36", "B43", "B9"),
    description="Conditional scalars: coalesce/nullif/least/greatest/case",
)
def conditional_scalar_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """The null-handling + branching scalar family on one carrier —
    pure row-local projection, fully codegen'd, no shuffle."""
    bal = F.col("c_acctbal").cast(DEC)
    return t(spark, sf, "customer").select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")
        ).alias("segment_bucket"),
        F.least(bal, F.lit(5000).cast(DEC)).cast("double").alias("capped_bal"),
        F.greatest(bal, F.lit(0).cast(DEC)).cast("double").alias("floored_bal"),
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 1000, "low")
        .otherwise("normal")
        .alias("balance_class"),
    )


# ---------------------------------------------------------------------------
# B28 multiset variants: INTERSECT ALL / EXCEPT ALL / UNION DISTINCT
# ---------------------------------------------------------------------------
@register(
    "setops_all_variants",
    # Bag (ALL) semantics preserve multiplicity: a nationkey appearing
    # 3x among customers and 1x among suppliers survives EXCEPT ALL
    # twice — the row-count arithmetic DISTINCT set ops destroy.
    oracle="""
    SELECT 'intersect_all' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT ALL
      SELECT s_nationkey AS nationkey FROM supplier
    )
    UNION ALL
    SELECT 'except_all' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT ALL
      SELECT s_nationkey AS nationkey FROM supplier
    )
    UNION ALL
    SELECT 'union_distinct' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey AS nationkey FROM supplier
    )
    """,
    survey_ids=("B28", "B27"),
    description="INTERSECT ALL / EXCEPT ALL / UNION DISTINCT multiset semantics",
)
def setops_all_variants(spark: SparkSession, sf: str) -> DataFrame:
    """All three remaining set-operation semantics on one carrier,
    tagged by op so a single result proves each.

    Spark plans ALL-variants as count-aggregated joins (one shuffle per
    side on the compared columns — no sort), UNION DISTINCT as
    union + hash aggregate; all partial-aggregated before exchange.
    """
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "nationkey")  # noqa: E731
    return (
        tag(c.intersectAll(s), "intersect_all")
        .unionByName(tag(c.exceptAll(s), "except_all"))
        .unionByName(tag(c.union(s).distinct(), "union_distinct"))
    )


# ---------------------------------------------------------------------------
# B23 scale path: approx_percentile sketch (rows-only, like B21's HLL)
# ---------------------------------------------------------------------------
@register(
    "approx_percentiles_nchars",
    # Rows-only: percentile_approx's GK-sketch
    # internals are engine-specific, so no SQL twin can replay the
    # estimate. Correctness evidence: the EXACT twin
    # `percentiles_nchars` is oracle-green on the same grouping, and
    # tests/test_sketches.py pins the sketch within its 1/10000
    # accuracy contract against the exact values.
    oracle=None,
    survey_ids=("B23",),
    description="approx_percentile sketch — the fixed-memory percentile scale path",
)
def approx_percentiles_nchars(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch percentiles per language: bounded-memory mergeable state
    (vs exact percentile's full sort), accuracy 1/10000 — the path a
    100 TB percentile actually takes. Exact twin: percentiles_nchars.
    """
    return (
        t(spark, sf, "documents")
        .groupBy("lang")
        .agg(
            F.percentile_approx("n_chars", [0.5, 0.9, 0.99], 10000).alias(
                "p50_p90_p99"
            ),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            "lang",
            F.col("p50_p90_p99")[0].alias("p50"),
            F.col("p50_p90_p99")[1].alias("p90"),
            F.col("p50_p90_p99")[2].alias("p99"),
            "n_docs",
        )
    )


# ---------------------------------------------------------------------------
# B43 bitwise operations
# ---------------------------------------------------------------------------
@register(
    "bitwise_funcs_events",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 4096 AS with_flag,
           xor(event_id, 255) AS toggled,
           CAST(event_id * 256 AS BIGINT) AS shifted
    FROM events
    WHERE event_id < 200
    """,
    survey_ids=("B43",),
    description="Bitwise ops: and/or/xor + shift via multiply",
)
def bitwise_funcs_events(spark: SparkSession, sf: str) -> DataFrame:
    """Bit manipulation on ids — flag packing/unpacking. The shift is
    expressed as *256 (identical semantics, and DuckDB's << on BIGINT
    matches only on non-negative values anyway). Row-local, codegen'd.
    """
    e = t(spark, sf, "events").filter(F.col("event_id") < 200)
    return e.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("event_id").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("event_id").bitwiseXOR(F.lit(255)).alias("toggled"),
        (F.col("event_id") * 256).cast("bigint").alias("shifted"),
    )


@register(
    "fk_integrity_audit",
    oracle="""
    SELECT 'lineitem.orderkey->orders' AS fk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders.custkey->customer',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer.nationkey->nation',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'lineitem.partkey->part',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.suppkey->supplier',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
    survey_ids=("B12", "B16", "B19"),
    description="star-schema FK audit: per-relationship row and orphan counts in one pass",
)
def fk_integrity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit across the star schema's five FK
    edges: for each, total child rows and orphan rows (child key with
    no parent). The warehouse-load health check that runs after every
    ingest — constraints aren't enforced on data-lake tables, so
    they're audited instead.

    Scale shape: each edge is a LEFT join that only carries the key
    columns; parents here are broadcastable dims except orders
    (fact-fact, shuffles on the key like any Q3-class join). Counting
    via left-join nulls rather than anti-join lets one pass emit both
    totals.
    """

    def edge(name: str, child: DataFrame, ck: str, parent: DataFrame, pk: str) -> DataFrame:
        return (
            child.select(F.col(ck).alias("ck"))
            .join(parent.select(F.col(pk).alias("pk")), F.col("ck") == F.col("pk"), "left")
            .agg(
                F.lit(name).alias("fk"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col("pk").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
        )

    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    p = t(spark, sf, "part")
    s = t(spark, sf, "supplier")
    return (
        edge("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(edge("orders.custkey->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(edge("customer.nationkey->nation", c, "c_nationkey", n, "n_nationkey"))
        .unionByName(edge("lineitem.partkey->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(edge("lineitem.suppkey->supplier", li, "l_suppkey", s, "s_suppkey"))
    )


# Each oracle serves two registry names from one range-partition rank
# builder below.
GINI_REVENUE_ORACLE = """
    WITH rev AS (
        SELECT o_custkey AS k,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, k) AS i FROM rev
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS total_rev,
           2.0 * CAST(SUM(CAST(i AS DECIMAL(38,2)) * CAST(x AS DECIMAL(18,2))) AS DOUBLE)
             / (count(*) * CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE))
             - (count(*) + 1.0) / count(*) AS gini
    FROM ranked
"""

DECILE_LIFT_ORACLE = """
    WITH scored AS (
        SELECT c.c_custkey,
               CAST(c.c_acctbal AS DECIMAL(18,2)) AS score,
               CASE WHEN EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_custkey = c.c_custkey)
                    THEN 1 ELSE 0 END AS converted
        FROM customer c
    ),
    deciles AS (
        SELECT NTILE(10) OVER (ORDER BY score, c_custkey) AS decile,
               score, converted
        FROM scored
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(score) AS DOUBLE) / count(*) AS mean_score,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST(SUM(converted) AS DOUBLE) / count(*) AS conv_rate
    FROM deciles GROUP BY decile
"""


@register(
    "gini_revenue_distributed",
    oracle=GINI_REVENUE_ORACLE,
    survey_ids=("B16", "B18", "B29"),
    description="Gini via range-partition two-phase rank: no single-task global sort",
)
@register(
    "gini_revenue_concentration",
    oracle=GINI_REVENUE_ORACLE,
    survey_ids=("B16", "B18", "B29"),
    description="Gini coefficient of per-customer revenue: rank-weighted exact-decimal sums",
)
def gini_revenue_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue-concentration Gini over customers (0 = equal, 1 = one
    customer is all revenue) via the rank formula
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending-sorted
    revenues. The rank-weighted sum is computed in DECIMAL so the
    accumulation order (Spark partial aggregation vs DuckDB serial)
    cannot perturb the doubles; only the final ratio is IEEE.

    The rank comes from ``operators/ids.py:assign_sequential_ids`` (one
    range exchange, ids from per-partition counts), not a global-order
    window: (x, k) is unique, so it equals the single-partition
    ROW_NUMBER the oracle computes while every stage stays parallel.
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.ids import (
        assign_sequential_ids,
    )

    rev = (
        t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("x")
        )
    )
    ranked, _ = assign_sequential_ids(rev, ["x", "k"], out_col="i0")
    ranked = ranked.select("x", (F.col("i0") + F.lit(1)).alias("i"))
    n = F.count("*")
    total = F.sum(F.col("x").cast("decimal(18,2)"))
    weighted = F.sum(F.col("i").cast("decimal(38,2)") * F.col("x").cast("decimal(18,2)"))
    return ranked.agg(
        n.cast("bigint").alias("n_customers"),
        total.cast("double").alias("total_rev"),
        (
            F.lit(2.0) * weighted.cast("double") / (n * total.cast("double"))
            - (n + F.lit(1.0)) / n
        ).alias("gini"),
    )


@register(
    "decile_lift_distributed",
    oracle=DECILE_LIFT_ORACLE,
    survey_ids=("B13", "B16", "B29"),
    description="decile lift via range-partition rank + closed-form NTILE cut",
)
@register(
    "decile_lift_acctbal",
    oracle=DECILE_LIFT_ORACLE,
    survey_ids=("B13", "B16", "B29"),
    description="decile lift table: conversion rate by account-balance decile (ntile with unique tiebreak)",
)
def decile_lift_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """Model-eval-style decile lift: customers ranked into 10 equal
    buckets by account balance (score), per-decile conversion rate
    (converted = has at least one order); the score mean goes through
    exact decimal sums.

    NTILE(10) over (score, c_custkey) — a total order with a unique
    tiebreak — is the range-partition rank (``operators/ids.py``) plus
    the closed-form NTILE bucket function: with n rows and
    q = n div 10, r = n mod 10, the first r buckets hold q+1 rows, so
    the 0-based rank z falls in

        bucket(z) = z div (q+1) + 1              if z <  r*(q+1)
                    r + (z - r*(q+1)) div q + 1   otherwise

    which reproduces SQL NTILE exactly with no single-task sort. n is
    the row count the rank step already summed on the driver, so it
    enters the plan as a literal.
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.ids import (
        assign_sequential_ids,
    )

    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").select("o_custkey").distinct()
    scored = c.join(
        o, c.c_custkey == o.o_custkey, "left"
    ).select(
        "c_custkey",
        F.col("c_acctbal").cast("decimal(18,2)").alias("score"),
        F.when(F.col("o_custkey").isNull(), 0).otherwise(1).alias("converted"),
    )
    ranked, n = assign_sequential_ids(scored, ["score", "c_custkey"], out_col="z")
    q, r = divmod(n, 10)
    cut = r * (q + 1)
    z = F.col("z")
    # q is 0 only when n < 10, and then every z < cut.
    decile = (
        F.when(z < cut, F.floor(z / (q + 1)) + 1)
        .otherwise(r + F.floor((z - cut) / max(q, 1)) + 1)
        .cast("int")
        .alias("decile")
    )
    return (
        ranked.select(decile, "score", "converted")
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            (F.sum("score").cast("double") / F.count("*")).alias("mean_score"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            (F.sum("converted").cast("double") / F.count("*")).alias("conv_rate"),
        )
    )


# ---------------------------------------------------------------------------
# B23/B43 extension: grouped OLS fit from exact decimal moments
# ---------------------------------------------------------------------------
@register(
    "ols_price_by_quantity",
    # Same exact-decimal-moment convention as stats_corr/corr_matrix:
    # the five moments are exact sums, slope/intercept/r2 are scalar
    # double assembly, round-6 absorbs final-ulp variation.
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """,
    survey_ids=("B23", "B43", "B18"),
    description="per-group OLS fit (slope/intercept/R2) from one exact-moment pass",
)
def ols_price_by_quantity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group simple linear regression of price on quantity —
    slope, intercept and R² assembled from the same five exact decimal
    moments the correlation queries use: one aggregation shuffle with
    mergeable partials, scalar double math in the projection. The
    grouped-OLS building block behind trend fits and per-segment
    elasticity estimates; generalizes to k regressors as the normal
    equations over an O(k²)-moment pass (the corr_matrix/PCA shape)."""
    x = F.col("l_quantity").cast(DEC)
    y = F.col("l_extendedprice").cast(DEC)
    m = (
        _moment_scan(spark, sf, "l_returnflag", "l_quantity", "l_extendedprice")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(y * y).cast("double").alias("syy"),
            F.sum(x * y).cast("double").alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# B29 extension: equi-depth histogram via ntile
# ---------------------------------------------------------------------------
@register(
    "equidepth_histogram_totalprice",
    # ntile's bucket-size rule (first n % k buckets get the extra row)
    # is part of the SQL standard; the Spark side replays it as integer
    # arithmetic over DISTRIBUTED exact global ranks, so the same
    # uniquely-tiebroken total order yields identical buckets. k=7 on
    # the fixture exercises the uneven-bucket branch (n % 7 != 0).
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             NTILE(7) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 6) AS lo,
           ROUND(MAX(o_totalprice), 6) AS hi
    FROM ranked GROUP BY bucket
    """,
    survey_ids=("B29", "B16", "B23"),
    description="equi-depth 7-bucket histogram of order totals (distributed exact ntile)",
)
def equidepth_histogram_totalprice(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-DEPTH histogram: 7 buckets of (near-)equal row count with
    their value boundaries — the optimizer-statistics histogram shape
    (equal-frequency, not the equal-WIDTH buckets of
    histogram_acctbal_buckets).

    A literal global NTILE window sorts everything in ONE task
    (measured 30 s / alpha +1.82 at 100x), so the shipped plan
    computes the SAME buckets distributively (the C89-family
    window-wall fix, third application after weighted_median and the
    temporal twins):

    1. band rows by price range; count per band (parallel shuffle);
    2. prefix-sum the ~105 band counts -> each band's global rank
       OFFSET (tiny);
    3. per-band row_number (+ offset) = exact global rank, parallel
       across bands because banding by the order key refines the
       global order;
    4. the SQL-standard NTILE rule as pure integer arithmetic on the
       rank (first n % k buckets take ceil(n/k) rows).

    Measured 3.2 s / alpha +0.38 at 100x, identical answer to the
    one-window DuckDB oracle. At 100 TB the same plan stands —
    per-band tasks stay bounded by the band width, and the sketch
    alternative (approx_percentile cut points) trades exactness for
    one less shuffle."""
    o = t(spark, sf, "orders").select("o_totalprice", "o_orderkey")
    b = o.withColumn(
        "band", F.floor(F.col("o_totalprice") / F.lit(1000.0)).cast("long")
    )
    per = b.groupBy("band").agg(F.count(F.lit(1)).alias("bn"))
    w_band = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = per.select(
        "band",
        (F.sum("bn").over(w_band) - F.col("bn")).alias("offset"),
        F.sum("bn").over(Window.partitionBy()).alias("n_total"),
    )
    w_in = Window.partitionBy("band").orderBy("o_totalprice", "o_orderkey")
    ranked = b.join(F.broadcast(offsets), "band").select(
        "o_totalprice",
        (F.row_number().over(w_in) + F.col("offset")).alias("rnk"),
        "n_total",
    )
    k = F.lit(7)
    n, r = F.col("n_total"), F.col("rnk")
    size_small = (n / k).cast("long")  # floor(n/k)
    n_big = n - size_small * k  # n % k buckets get one extra row
    size_big = size_small + 1
    bucket = F.when(
        r <= n_big * size_big, ((r - 1) / size_big).cast("long") + 1
    ).otherwise(
        n_big + ((r - n_big * size_big - 1) / size_small).cast("long") + 1
    )
    return (
        ranked.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 6).alias("lo"),
            F.round(F.max("o_totalprice"), 6).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# C147 Mann-Whitney U (exact, tie-corrected) + C148 Kolmogorov-Smirnov
# two-sample — rank statistics without the rank window wall
# ---------------------------------------------------------------------------
def _two_level_value_cum(vals: DataFrame, width: float) -> DataFrame:
    """Attach exact cumulative counts to a per-distinct-value table
    without a single global cumulative window.

    ``vals`` has one row per DISTINCT value with integer columns
    ``n_a``/``n_b``/``n`` (group A count, group B count, total). A
    global ``ORDER BY value`` running sum would concentrate every
    distinct value in ONE task (the C89-family window wall — measured
    alpha ~+1.8 on this box for data-scale series). Two levels instead:

    1. bucket values by range (``floor(value/width)``), aggregate
       per-bucket totals — one tiny shuffle;
    2. prefix-sum the ~O(range/width) bucket totals (trivially small);
    3. run the in-bucket cumulative window PARTITIONED BY BUCKET —
       every bucket scans in parallel — and add the bucket carry-in.

    Bucketing by the order key makes bucket-major order a refinement
    of the value order, so ``cum_*`` equal the naive window's answers
    exactly (integers — no float question). Returns ``vals`` plus
    ``cum_a``/``cum_b``/``cum_n`` (counts at <= value) per row.
    """
    b = vals.withColumn("bkt", F.floor(F.col("value") / F.lit(width)).cast("long"))
    per = b.groupBy("bkt").agg(
        F.sum("n_a").alias("ba"), F.sum("n_b").alias("bb"), F.sum("n").alias("bn")
    )
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carry = per.select(
        "bkt",
        (F.sum("ba").over(w_b) - F.col("ba")).alias("ca"),
        (F.sum("bb").over(w_b) - F.col("bb")).alias("cb"),
        (F.sum("bn").over(w_b) - F.col("bn")).alias("cn"),
    )
    w_in = Window.partitionBy("bkt").orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        b.join(F.broadcast(carry), "bkt")
        .select(
            "value",
            "n_a",
            "n_b",
            "n",
            (F.col("ca") + F.sum("n_a").over(w_in)).alias("cum_a"),
            (F.col("cb") + F.sum("n_b").over(w_in)).alias("cum_b"),
            (F.col("cn") + F.sum("n").over(w_in)).alias("cum_n"),
        )
    )


def _ab_value_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-distinct-value counts for the click-vs-view comparison the
    two rank tests below share: one groupBy(value) with map-side
    combine reduces the event stream to its distinct-value table."""
    ev = t(spark, sf, "events").filter(F.col("event_type").isin("click", "view"))
    # Raw scan: parallelize_cpu_scan measured 0.43-0.65x here (OPTIMIZATION_r13.md §2).
    return ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("n_a"),
        F.sum((F.col("event_type") == "view").cast("long")).alias("n_b"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "mann_whitney_value_clicks",
    # Oracle keeps the textbook single-window rank formulation — same
    # answer, different algorithm (the two-level scan is the point).
    # Every summed term is an integer or an exact multiple of 0.5
    # (midranks), so r_a/u_a are EXACT doubles in both engines
    # regardless of summation order; z = exact-input division + sqrt
    # (both correctly-rounded IEEE) — bit-exact, no libm in the hash.
    oracle="""
    WITH g AS (
      SELECT value,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY value
    ),
    r AS (
      SELECT *,
             SUM(n) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - n AS cum_less
      FROM g
    ),
    s AS (
      SELECT CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(nb) AS BIGINT) AS n_b,
             SUM(na * (cum_less + (n + 1) / 2.0)) AS r_a,
             SUM(CAST(n AS DOUBLE) * n * n - n) AS tie_term
      FROM r
    )
    SELECT n_a, n_b,
           r_a - n_a * (n_a + 1) / 2.0 AS u_a,
           ROUND(
             (r_a - n_a * (n_a + 1) / 2.0 - CAST(n_a AS DOUBLE) * n_b / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                    * ((n_a + n_b + 1)
                       - tie_term / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))),
             6) AS z
    FROM s
    """,
    survey_ids=("B23", "B16", "B29"),
    description="Mann-Whitney U rank-sum test (exact midranks, tie-corrected z), two-level scan",
)
def mann_whitney_value_clicks(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Mann-Whitney U: do click events carry systematically
    different values than views? Nonparametric — the robust sibling of
    the existing t/z/chi-square family, and the classic A/B test for
    skewed metrics where mean comparisons mislead.

    Midranks come from per-distinct-value cumulative counts via the
    TWO-LEVEL scan (``_two_level_value_cum`` — no global rank window),
    then one aggregation row: U from the rank sum, z from the
    tie-corrected normal approximation (no continuity correction;
    the oracle mirrors that choice). Distinct-value grouping bounds
    every shuffle by the value cardinality, not the event count.
    """
    vals = _ab_value_counts(spark, sf)
    cum = _two_level_value_cum(vals, width=5.0)
    # midrank(v) = (#elements < v) + (n(v)+1)/2 — cum_n is <=v, so
    # subtracting the value's own n gives the strict-less count.
    s = cum.select(
        F.col("n_a").alias("na"),
        F.col("n_b").alias("nb"),
        ((F.col("cum_n") - F.col("n")) + (F.col("n") + F.lit(1)) / F.lit(2.0)).alias(
            "midrank"
        ),
        F.col("n"),
    ).agg(
        F.sum("na").cast("bigint").alias("n_a"),
        F.sum("nb").cast("bigint").alias("n_b"),
        F.sum(F.col("na") * F.col("midrank")).alias("r_a"),
        F.sum(
            F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
        ).alias("tie_term"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    u_a = F.col("r_a") - n_a * (n_a + F.lit(1)) / F.lit(2.0)
    n_tot = n_a + n_b
    var = (
        n_a.cast("double") * n_b / F.lit(12.0)
        * (
            (n_tot + F.lit(1))
            - F.col("tie_term") / (n_tot.cast("double") * (n_tot - F.lit(1)))
        )
    )
    z = (u_a - n_a.cast("double") * n_b / F.lit(2.0)) / F.sqrt(var)
    return s.select("n_a", "n_b", u_a.alias("u_a"), F.round(z, 6).alias("z"))


@register(
    "ks_two_sample_value",
    # Exact ECDFs at every distinct value: integer cumulative counts
    # divided by integer group sizes — bit-exact in both engines; the
    # max and its min-value location are then exact too.
    oracle="""
    WITH g AS (
      SELECT value,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY value
    ),
    c AS (
      SELECT value,
             SUM(na) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_a,
             SUM(nb) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_b
      FROM g
    ),
    tot AS (SELECT CAST(SUM(na) AS DOUBLE) AS n_a, CAST(SUM(nb) AS DOUBLE) AS n_b FROM g),
    gaps AS (
      SELECT value, abs(cum_a / n_a - cum_b / n_b) AS gap
      FROM c CROSS JOIN tot
    )
    SELECT CAST((SELECT n_a FROM tot) AS BIGINT) AS n_a,
           CAST((SELECT n_b FROM tot) AS BIGINT) AS n_b,
           ROUND(MAX(gap), 6) AS d_stat,
           MIN(value) FILTER (WHERE gap = (SELECT MAX(g2.gap) FROM gaps g2))
             AS d_location
    FROM gaps
    """,
    survey_ids=("B23", "B16", "B29"),
    description="Kolmogorov-Smirnov two-sample D (exact ECDF gap + location), two-level scan",
)
def ks_two_sample_value(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D: the largest ECDF gap
    between click and view value distributions, plus the value where
    it occurs — the distribution-shape drift test that chi-square
    binning smooths away.

    Same two-level cumulative scan as the Mann-Whitney query (shared
    ``_two_level_value_cum``); the finish is one max-aggregation plus
    a broadcast argmax join for the location (min value achieving the
    max, so ties break deterministically).
    """
    vals = _ab_value_counts(spark, sf)
    cum = _two_level_value_cum(vals, width=5.0)
    tot = vals.agg(
        F.sum("n_a").cast("double").alias("t_a"),
        F.sum("n_b").cast("double").alias("t_b"),
    )
    gaps = cum.join(F.broadcast(tot)).select(
        "value",
        "t_a",
        "t_b",
        F.abs(F.col("cum_a") / F.col("t_a") - F.col("cum_b") / F.col("t_b")).alias(
            "gap"
        ),
    )
    top = gaps.agg(F.max("gap").alias("d"))
    return (
        gaps.join(F.broadcast(top))
        .filter(F.col("gap") == F.col("d"))
        .agg(
            F.min(F.col("t_a").cast("bigint")).alias("n_a"),
            F.min(F.col("t_b").cast("bigint")).alias("n_b"),
            F.round(F.min("d"), 6).alias("d_stat"),
            F.min("value").alias("d_location"),
        )
    )


# ---------------------------------------------------------------------------
# C151 deterministic Poisson bootstrap: hash-replayable resampling CI
# ---------------------------------------------------------------------------
# Poisson(1) inverse-CDF thresholds as INTEGER literals on a 28-bit
# hash scale (floor(cdf_k * 2^28), k = 0..5; mass above k=5 caps at
# w=6, ~8e-5 of draws). Integer comparisons — the weights are
# bit-identical in any engine that can md5, with no runtime libm and
# no float-rounding question in the draw itself. 28 bits because one
# md5 digest (32 hex chars) then yields FOUR independent draws from
# disjoint 7-hex substrings — 4x fewer digest computations per row at
# a granularity (~4e-9) far below any statistical relevance.
_POISSON1_CUM_T28 = (
    98751885,   # P(X <= 0) = e^-1
    197503771,  # P(X <= 1)
    246879713,  # P(X <= 2)
    263338361,  # P(X <= 3)
    267453023,  # P(X <= 4)
    268275955,  # P(X <= 5)
)


def _poisson_weight_sql(h: str) -> str:
    """CASE expression mapping a 28-bit hash to a Poisson(1) draw —
    identical text works in Spark SQL and DuckDB."""
    branches = " ".join(
        f"WHEN {h} < {thr} THEN {k}"
        for k, thr in enumerate(_POISSON1_CUM_T28)
    )
    return f"CASE {branches} ELSE 6 END"


@register(
    "bootstrap_ci_order_total",
    oracle=f"""
    WITH reps AS (SELECT unnest(range(0, 32)) AS b),
    weighted AS (
      SELECT r.b,
             {_poisson_weight_sql(
                 "CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)"
                 " || ':' || CAST(r.b // 4 AS VARCHAR)),"
                 " 1 + 7 * CAST(r.b % 4 AS INT), 7)) AS BIGINT)"
             )} AS w,
             o.o_totalprice AS x
      FROM orders o CROSS JOIN reps r
    ),
    means AS (
      SELECT b, SUM(w * x) / SUM(w) AS m
      FROM weighted GROUP BY b
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rnk FROM means
    )
    SELECT (SELECT ROUND(AVG(o_totalprice), 6) FROM orders) AS point_mean,
           ROUND(MIN(CASE WHEN rnk = 2 THEN m END), 6) AS ci_lo,
           ROUND(MIN(CASE WHEN rnk = 31 THEN m END), 6) AS ci_hi,
           CAST(COUNT(*) AS BIGINT) AS n_replicates
    FROM ranked
    """,
    survey_ids=("B18", "B16", "B43"),
    description="Deterministic Poisson bootstrap CI for mean(o_totalprice): 32 hash-replayable replicates",
)
def bootstrap_ci_order_total(spark: SparkSession, sf: str) -> DataFrame:
    """Bootstrap confidence interval for the mean order total — the
    resampling machinery every 'is this KPI move real?' question
    needs, in ONE corpus pass with no RNG state.

    The classic bootstrap (draw n rows with replacement, B times) is
    driver-hostile and non-reproducible at scale. The Poissonized
    bootstrap replaces each replicate's multinomial with independent
    Poisson(1) weights per (row, replicate) — the standard streaming
    approximation (weights sum to ~n, not exactly n) — and this
    implementation makes the draw DETERMINISTIC: the weight is the
    Poisson(1) inverse CDF evaluated on a 60-bit md5 hash of
    (orderkey, replicate) against precomputed INTEGER thresholds, so
    the full resample is replayable bit-for-bit in any engine with
    md5 (same family as dedup_minhash_verified / the LSH replay).

    Shape at 100 TB: one 32x row fan-out (replicate id), one partial-
    aggregated groupBy(b) producing 32 rows, one 32-row sort — no
    driver loop, no collect, no reshuffle of the fact table. The CI is
    the 2nd/31st order statistics of the replicate means (an exact
    ~93.75% interval for B=32; explicit ranks, not engine-specific
    percentile interpolation).

    The cost is the B-fold weighted aggregation, not the hashing: B,
    not data size, is the knob; halving B halves the time at the cost
    of CI resolution.
    """
    o = t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    # Spread the md5 fan-out off one scan task (OPTIMIZATION_r13.md §2).
    o = parallelize_cpu_scan(o, spark, sf, "orders")
    # One digest serves replicates 4d..4d+3 via disjoint 7-hex
    # substrings, and the 8 digests per row are computed BEFORE the
    # 32x fan-out (nested transform: the outer lambda runs md5 once
    # per d; a per-fanned-row expression would recompute each digest
    # 4x). posexplode's position IS the replicate id: b = 4d + j
    # matches the oracle's (b // 4, b % 4) hash exactly — verified
    # cell-for-cell against the per-row form.
    hs = (
        "flatten(transform("
        " transform(sequence(0, 7), d ->"
        "   md5(concat(CAST(o_orderkey AS STRING), ':', CAST(d AS STRING)))),"
        " m -> transform(sequence(0, 3), j ->"
        "   CAST(conv(substring(m, 1 + 7 * j, 7), 16, 10) AS BIGINT))))"
    )
    weighted = o.select(
        F.col("o_totalprice").alias("x"),
        F.posexplode(F.expr(hs)).alias("b", "h"),
    ).select("b", F.expr(_poisson_weight_sql("h")).alias("w"), "x")
    means = weighted.groupBy("b").agg(
        (F.sum(F.col("w") * F.col("x")) / F.sum("w")).alias("m")
    )
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m")).alias("rnk")
    )
    point = o.agg(F.round(F.avg("o_totalprice"), 6).alias("point_mean"))
    return ranked.agg(
        F.round(F.min(F.when(F.col("rnk") == 2, F.col("m"))), 6).alias("ci_lo"),
        F.round(F.min(F.when(F.col("rnk") == 31, F.col("m"))), 6).alias("ci_hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
    ).crossJoin(F.broadcast(point)).select(
        "point_mean", "ci_lo", "ci_hi", "n_replicates"
    )


# ---------------------------------------------------------------------------
# C153 CDC changelog apply: materialize the final state of an
# insert/update/delete stream
# ---------------------------------------------------------------------------
@register(
    "cdc_apply_changelog",
    oracle="""
    WITH log AS (
      SELECT o_orderkey AS key, 1 AS seq, 'I' AS op,
             o_totalprice AS amount, o_orderstatus AS status
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2, 'U', o_totalprice * 1.1, 'U'
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, 2, 'D', NULL, NULL
      FROM orders WHERE o_orderkey % 10 = 7
      UNION ALL
      SELECT o_orderkey, 3, 'U', o_totalprice * 1.2, 'V'
      FROM orders WHERE o_orderkey % 100 = 13
    ),
    final AS (
      SELECT key,
             arg_max(op, seq) AS op,
             arg_max(amount, seq) AS amount,
             arg_max(status, seq) AS status
      FROM log GROUP BY key
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS total_amount
    FROM final WHERE op <> 'D'
    GROUP BY status
    """,
    survey_ids=("B16", "B27", "B29"),
    description="CDC apply: last-writer-wins materialization of an I/U/D changelog, deletes dropped",
)
def cdc_apply_changelog(spark: SparkSession, sf: str) -> DataFrame:
    """Change-data-capture apply — the ingestion primitive every
    warehouse MERGE implements: given a changelog of (key, seq, op,
    payload) rows, materialize the final table state (last writer per
    key wins; a final 'D' removes the key). The changelog is
    synthesized deterministically from orders (inserts for all, an
    update wave at seq 2 for keys %10=3, deletes at seq 2 for %10=7,
    a second update wave at seq 3 for %100=13) so both engines replay
    the identical stream.

    Plan shape: ONE aggregation — ``max_by(payload, seq)`` per key
    (mergeable partial aggregates, high-cardinality key, no window,
    no sort). The common windowed formulation (row_number over
    key ORDER BY seq DESC) pays a per-key sort for the same answer;
    max_by is the aggregation-only form, the right shape at 100 TB
    where the changelog is append-only and keys are uniform. Output
    rolls the survivors up per final status (exact counts + rounded
    sums) to keep the compare row-count bounded.

    Tie rule: seq values are unique per key by construction (real CDC
    streams carry a total order per key — LSN/binlog position);
    max_by semantics on the unique seq are therefore deterministic.
    """
    o = t(spark, sf, "orders")
    ins = o.select(
        F.col("o_orderkey").alias("key"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderstatus").alias("status"),
    )
    upd = o.filter(F.col("o_orderkey") % 10 == 3).select(
        F.col("o_orderkey").alias("key"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") * 1.1).alias("amount"),
        F.lit("U").alias("status"),
    )
    dele = o.filter(F.col("o_orderkey") % 10 == 7).select(
        F.col("o_orderkey").alias("key"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("amount"),
        F.lit(None).cast("string").alias("status"),
    )
    upd2 = o.filter(F.col("o_orderkey") % 100 == 13).select(
        F.col("o_orderkey").alias("key"),
        F.lit(3).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") * 1.2).alias("amount"),
        F.lit("V").alias("status"),
    )
    log = ins.unionByName(upd).unionByName(dele).unionByName(upd2)
    final = log.groupBy("key").agg(
        F.max_by("op", "seq").alias("op"),
        F.max_by("amount", "seq").alias("amount"),
        F.max_by("status", "seq").alias("status"),
    )
    return (
        final.filter(F.col("op") != "D")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            # decimal accumulator (repo convention for billion-scale
            # double sums): per-row products are bit-identical across
            # engines, but a double SUM's association error (~7e-6 at
            # this magnitude) exceeds the round-6 contract — decimal
            # sums are exact, so the hash cannot drift
            F.sum(F.col("amount").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_amount"),
        )
    )


# ---------------------------------------------------------------------------
# C154 mix-shift decomposition: is the KPI move rate or mix?
# ---------------------------------------------------------------------------
@register(
    "mix_shift_decomposition",
    oracle="""
    WITH seg AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN o.o_orderdate < TIMESTAMP '1996-01-01'
                  THEN 'old' ELSE 'new' END AS period,
             o.o_totalprice AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT segment, period,
             CAST(COUNT(*) AS BIGINT) AS n, AVG(x) AS rate
      FROM seg GROUP BY segment, period
    ),
    tot AS (
      SELECT period, CAST(SUM(n) AS DOUBLE) AS n_tot FROM g GROUP BY period
    ),
    shares AS (
      SELECT g.segment,
             MAX(CASE WHEN g.period = 'old' THEN g.n / t.n_tot END) AS share_old,
             MAX(CASE WHEN g.period = 'new' THEN g.n / t.n_tot END) AS share_new,
             MAX(CASE WHEN g.period = 'old' THEN g.rate END) AS rate_old,
             MAX(CASE WHEN g.period = 'new' THEN g.rate END) AS rate_new
      FROM g JOIN tot t ON g.period = t.period
      GROUP BY g.segment
    )
    SELECT segment,
           ROUND(share_old, 6) AS share_old,
           ROUND(share_new, 6) AS share_new,
           ROUND((share_new - share_old) * rate_old, 6) AS mix_effect,
           ROUND(share_new * (rate_new - rate_old), 6) AS rate_effect
    FROM shares
    """,
    survey_ids=("B10", "B16", "B22"),
    description="Mix-shift decomposition: per-segment split of a KPI move into mix vs rate effects",
)
def mix_shift_decomposition(spark: SparkSession, sf: str) -> DataFrame:
    """The 'why did average order value move?' query: the change in
    the overall average between two periods decomposes EXACTLY as
    sum_g[(share_new - share_old) * rate_old]   (mix effect)
    + sum_g[share_new * (rate_new - rate_old)]  (rate effect),
    per customer segment — the standard analyst decomposition that
    separates 'segments got bigger' from 'segments spend more'.

    One fact-dim join (customer side broadcastable at any realistic
    segment-dim size... the CUSTOMER join here shuffles, as it must —
    the dim is fact-sized in TPC-H) and two tiny aggregations; the
    pivot to old/new columns runs on a segment-count-sized table.
    """
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    seg = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"), "old")
        .otherwise("new")
        .alias("period"),
        F.col("o_totalprice").alias("x"),
    )
    g = seg.groupBy("segment", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.avg("x").alias("rate")
    )
    tot = g.groupBy("period").agg(F.sum("n").cast("double").alias("n_tot"))
    shares = (
        g.join(F.broadcast(tot), "period")
        .groupBy("segment")
        .agg(
            F.max(F.when(F.col("period") == "old", F.col("n") / F.col("n_tot"))).alias("share_old"),
            F.max(F.when(F.col("period") == "new", F.col("n") / F.col("n_tot"))).alias("share_new"),
            F.max(F.when(F.col("period") == "old", F.col("rate"))).alias("rate_old"),
            F.max(F.when(F.col("period") == "new", F.col("rate"))).alias("rate_new"),
        )
    )
    return shares.select(
        "segment",
        F.round("share_old", 6).alias("share_old"),
        F.round("share_new", 6).alias("share_new"),
        F.round((F.col("share_new") - F.col("share_old")) * F.col("rate_old"), 6).alias("mix_effect"),
        F.round(F.col("share_new") * (F.col("rate_new") - F.col("rate_old")), 6).alias("rate_effect"),
    )


# ---------------------------------------------------------------------------
# C155 bitmap exact distinct: COUNT(DISTINCT) as bit_or / bit_count
# ---------------------------------------------------------------------------
@register(
    "bitmap_distinct_users_by_type",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
    survey_ids=("B20", "B16", "B43"),
    description="Exact distinct users per type via 64-bit bitmap words (bit_or + bit_count)",
)
def bitmap_distinct_users_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Exact COUNT(DISTINCT) in bitmap form — the roaring-bitmap trick
    restricted to 64-bit words: user u sets bit (u mod 64) of word
    (u div 64); ``bit_or`` is the mergeable partial aggregate, and the
    distinct count is the sum of popcounts.

    Why at 100 TB: COUNT(DISTINCT) shuffles every distinct (group,
    user) pair. The bitmap form's map-side combine collapses each
    partition's users into AT MOST ceil(id_space/64) words per group
    — for dense id spaces the shuffle shrinks up to 64x, and words
    OR together associatively (works in rollups and incremental
    refreshes where re-counting raw pairs would re-scan history; the
    same reason sketches exist, but EXACT for bounded id spaces).
    The oracle is the plain COUNT(DISTINCT) — same answer.
    """
    ev = t(spark, sf, "events")
    words = (
        ev.select(
            "event_type",
            (F.col("user_id") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias("bit"),
        )
        .groupBy("event_type", "word_idx")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    return (
        words.groupBy("event_type")
        .agg(F.sum(F.bit_count("word")).cast("bigint").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# C156 order-independent table checksum: migration/replication audit
# ---------------------------------------------------------------------------
@register(
    "table_checksum_orders",
    # Per-row digests from md5 over a canonical string of the typed-
    # stable columns (integers + strings only — float/timestamp
    # FORMATTING is engine-specific and has no canonical text form),
    # combined with the two classic order-independent reducers.
    oracle="""
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' || o_orderpriority), 1, 15)) AS BIGINT) AS d
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(d) AS BIGINT) AS xor_sum,
           CAST(SUM(d) % 9223372036854775807 AS BIGINT) AS add_sum
    FROM h
    """,
    survey_ids=("B18", "B40", "B43"),
    description="Order-independent table checksum (md5 row digests, XOR + modular-add reducers)",
)
def table_checksum_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Content equality for tables that live in two places — the
    migration/replication audit that must not depend on row order,
    partitioning, or file layout: digest each row canonically, reduce
    with ORDER-INDEPENDENT combiners (XOR catches any single-row
    difference; the modular add catches the duplicate-pair case XOR
    misses). One scan, one 1-row aggregate, zero shuffle beyond the
    partial merge — at 100 TB this is the only affordable shape
    (sort-based diffing pays a global sort; row-level anti-joins pay
    a full shuffle of both sides).

    Only type-stable columns join the digest (ints + strings):
    float and timestamp TEXT formatting differs across engines, so a
    cross-engine checksum contract has to either canonicalize them
    explicitly (scaled-integer encoding) or leave them out; this
    query documents the contract by example.
    """
    o = t(spark, sf, "orders")
    d = F.expr(
        "CAST(conv(substring(md5(concat("
        " CAST(o_orderkey AS STRING), '|',"
        " CAST(o_custkey AS STRING), '|',"
        " o_orderstatus, '|', o_orderpriority)), 1, 15), 16, 10) AS BIGINT)"
    )
    return o.select(d.alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr("bit_xor(d)").cast("bigint").alias("xor_sum"),
        # decimal(38,0) accumulator: 60-bit digests summed over data-
        # scale rows overflow BIGINT (DuckDB silently widens to
        # HUGEINT; Spark ANSI mode rightly refuses)
        (F.sum(F.col("d").cast("decimal(38,0)")) % F.lit(9223372036854775807))
        .cast("bigint")
        .alias("add_sum"),
    )


# ---------------------------------------------------------------------------
# C163 k-anonymity audit: quasi-identifier group sizes
# ---------------------------------------------------------------------------
@register(
    "k_anonymity_audit",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey,
             c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
             COUNT(*) AS grp
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT CAST(MIN(grp) AS BIGINT) AS k_min,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN grp < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_5,
           CAST(SUM(CASE WHEN grp < 5 THEN grp ELSE 0 END) AS BIGINT)
             AS rows_at_risk
    FROM qi
    """,
    survey_ids=("B16", "B18", "B43"),
    description="k-anonymity audit: quasi-identifier group-size floor and re-identification exposure",
)
def k_anonymity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Privacy release gate: under the quasi-identifier tuple
    (nation, market segment, account-balance band), what is the
    smallest group size k, and how many rows sit in groups below
    k = 5 — the re-identification exposure a k-anonymity policy
    bounds before a dataset leaves the warehouse. Companion to the
    PII redaction operator: redaction strips direct identifiers,
    this measures the joinable-attribute risk that remains.

    One groupBy on the quasi-identifier tuple (map-side combined,
    cardinality = the QI domain, not the row count) + a 4-scalar
    reduction over the group-size table. Banding the continuous
    attribute (floor to 1000s) is itself the standard generalization
    step — tighten the band and watch rows_at_risk fall.
    """
    c = t(spark, sf, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("acctbal_band"),
    ).agg(F.count(F.lit(1)).alias("grp"))
    return qi.agg(
        F.min("grp").cast("bigint").alias("k_min"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum((F.col("grp") < 5).cast("bigint")).cast("bigint").alias("groups_below_5"),
        F.sum(F.when(F.col("grp") < 5, F.col("grp")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
    )


# ---------------------------------------------------------------------------
# C164 exact ROC AUC via the rank identity (no curve sweep)
# ---------------------------------------------------------------------------
@register(
    "exact_auc_quality_english",
    # AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with midranks
    # — the Mann-Whitney identity, so the two-level scan applies and
    # every term is an exact multiple of 0.5: bit-exact in any engine.
    oracle="""
    WITH scored AS (
      SELECT ROUND(
        LEAST(CAST(len(list_filter(string_split_regex(text,'\\s+'),
                   t -> list_contains(['the','and','of','to','a','in','is','it'], lower(t)))) AS DOUBLE)
              / GREATEST(len(string_split_regex(text,'\\s+')),1) * 2.0, 1.0) * 0.25
        + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
              / GREATEST(length(text),1) * 0.25
        + CAST(len(list_distinct(string_split_regex(text,'\\s+'))) AS DOUBLE)
              / GREATEST(len(string_split_regex(text,'\\s+')),1) * 0.25
        + (CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.5 END) * 0.25,
      6) AS score,
      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
      FROM documents
    ),
    g AS (
      SELECT score,
             CAST(SUM(label) AS BIGINT) AS np,
             CAST(COUNT(*) - SUM(label) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM scored GROUP BY score
    ),
    r AS (
      SELECT *,
             SUM(n) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - n AS cum_less
      FROM g
    ),
    s AS (
      SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
             CAST(SUM(nn) AS BIGINT) AS n_neg,
             SUM(np * (cum_less + (n + 1) / 2.0)) AS r_pos
      FROM r
    )
    SELECT n_pos, n_neg,
           (r_pos - n_pos * (n_pos + 1) / 2.0)
             / (CAST(n_pos AS DOUBLE) * n_neg) AS auc
    FROM s
    """,
    survey_ids=("B56", "B23", "B16"),
    description="Exact ROC AUC of the quality score predicting lang=en, via the rank identity",
)
def exact_auc_quality_english(spark: SparkSession, sf: str) -> DataFrame:
    """Exact ROC AUC without building the curve: AUC equals the
    Mann-Whitney U of positive-class scores over negative-class
    scores, normalized — the identity every large-scale model-eval
    pipeline should use instead of threshold sweeps (one pass + tiny
    aggregates vs materializing the ROC staircase). Here: does the
    heuristic quality score separate English docs from the rest?

    Same two-level cumulative scan as mann_whitney_value_clicks
    (per-distinct-score counts, bucket prefix + in-bucket parallel
    windows); ties handled by midranks, which is exactly the
    trapezoidal tie convention for AUC. All terms are exact halves —
    bit-exact, no tolerance. (Fixture note: langs share one synthetic
    vocabulary, so AUC ~ 0.5 by construction; the estimator, not the
    separation, is the operator.)
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators import text as X

    docs = X.quality_score(t(spark, sf, "documents"))
    scored = docs.select(
        F.round("quality", 6).alias("value"),
        (F.col("lang") == "en").cast("long").alias("is_pos"),
    )
    vals = scored.groupBy("value").agg(
        F.sum("is_pos").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("is_pos")).alias("n_b"),
        F.count(F.lit(1)).alias("n"),
    )
    cum = _two_level_value_cum(vals, width=0.05)
    s = cum.select(
        "n_a",
        "n_b",
        ((F.col("cum_n") - F.col("n")) + (F.col("n") + F.lit(1)) / F.lit(2.0)).alias(
            "midrank"
        ),
    ).agg(
        F.sum("n_a").cast("bigint").alias("n_pos"),
        F.sum("n_b").cast("bigint").alias("n_neg"),
        F.sum(F.col("n_a") * F.col("midrank")).alias("r_pos"),
    )
    auc = (
        F.col("r_pos") - F.col("n_pos") * (F.col("n_pos") + F.lit(1)) / F.lit(2.0)
    ) / (F.col("n_pos").cast("double") * F.col("n_neg"))
    return s.select("n_pos", "n_neg", auc.alias("auc"))


# ---------------------------------------------------------------------------
# C169 retraction-aware incremental view maintenance: signed deltas
# ---------------------------------------------------------------------------
@register(
    "retractable_rollup_maintenance",
    # The final maintained state must equal a from-scratch recompute
    # of the post-delta world: base orders (pre-1997) minus the
    # retracted every-10th order plus the 1997+ inserts.
    oracle="""
    WITH world AS (
      SELECT o_orderpriority AS pri, o_totalprice AS x
      FROM orders
      WHERE (o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 10 != 0)
         OR o_orderdate >= TIMESTAMP '1997-01-01'
    )
    SELECT pri,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM world GROUP BY pri
    """,
    survey_ids=("B16", "B27", "B44"),
    description="Incremental rollup maintenance under retractions: signed-delta merge == recompute",
)
def retractable_rollup_maintenance(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized-view maintenance with DELETES — the step beyond
    append-only incremental rollups (rollup_incremental_merge): a
    delta batch carries inserts AND retractions, each applied as a
    SIGNED contribution (+1/count, +x/sum for inserts; -1, -x for
    retractions), so the maintained aggregate never re-reads the base
    fact table. This is how streaming update-mode aggregations and
    warehouse MV refresh stay O(delta) instead of O(history) — the
    only affordable refresh at 100 TB of history with GB-sized deltas.

    Base: pre-1997 orders rolled up per priority. Delta: every 10th
    pre-1997 order retracted + all 1997+ orders inserted (both rules
    deterministic). Decimal accumulators make base ⊕ delta EXACTLY
    equal the from-scratch recompute the oracle runs — associativity
    of the signed merge is the property under test, and decimals make
    it hold bit-for-bit, not just approximately.
    """
    o = t(spark, sf, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    signed = F.struct(
        F.col("o_orderpriority").alias("pri"),
        F.col("sign"),
        (F.col("sign") * F.col("o_totalprice")).cast("decimal(18,6)").alias("sx"),
    )
    base = o.filter(F.col("o_orderdate") < cut).withColumn("sign", F.lit(1))
    retract = (
        o.filter((F.col("o_orderdate") < cut) & (F.col("o_orderkey") % 10 == 0))
        .withColumn("sign", F.lit(-1))
    )
    insert = o.filter(F.col("o_orderdate") >= cut).withColumn("sign", F.lit(1))
    allrows = base.unionByName(retract).unionByName(insert).select(
        signed.alias("s")
    )
    return (
        allrows.select("s.*")
        .groupBy("pri")
        .agg(
            F.sum("sign").cast("bigint").alias("n"),
            F.sum("sx").cast("double").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# C171 per-group quantile transform: exact percent_rank features
# without the per-group sort wall
# ---------------------------------------------------------------------------
@register(
    "quantile_transform_by_type",
    # Oracle keeps the textbook per-group percent_rank window (exact
    # integers in, one division out — bit-exact); the Spark side must
    # produce the identical ranks from the grouped two-level scan.
    oracle="""
    WITH g AS (
      SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type IN ('click', 'view', 'purchase')
      GROUP BY event_type, value
    ),
    r AS (
      SELECT event_type, value, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY value
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n AS cum_less,
             SUM(n) OVER (PARTITION BY event_type) AS n_grp
      FROM g
    )
    SELECT event_type, value,
           n,
           CASE WHEN n_grp > 1
                THEN CAST(cum_less AS DOUBLE) / (n_grp - 1)
                ELSE 0.0 END AS pct_rank
    FROM r
    WHERE value < 5.0
    """,
    survey_ids=("B23", "B29", "B16"),
    description="Exact per-group percent_rank (quantile transform) via grouped two-level scan",
)
def quantile_transform_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """The quantile transform (a.k.a. rank-gauss prep, percentile
    features): map each value to its exact percent rank WITHIN its
    group — the feature normalization that survives skew and outliers
    where z-scores don't. The naive form is a per-group ORDER BY
    window: with few groups that concentrates each group's full
    series in one task (the C89 window wall). Grouped TWO-LEVEL scan
    instead: per-(group, value) counts, per-(group, bucket) totals
    prefix-summed within each group (tiny), in-bucket windows
    partitioned by (group, bucket) — every stage parallel across
    buckets x groups.

    Emits the distinct-value rank table (value < 5.0 keeps the
    compared slice bounded); joining it back to the stream is the
    map-side application step at train time. percent_rank convention:
    strict-less count / (n_group - 1), ties share a rank — identical
    to SQL PERCENT_RANK on the expanded rows.
    """
    ev = t(spark, sf, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    g = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("n")
    )
    b = g.withColumn("bkt", F.floor(F.col("value") / F.lit(5.0)).cast("long"))
    per = b.groupBy("event_type", "bkt").agg(F.sum("n").alias("bn"))
    w_b = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_g = Window.partitionBy("event_type")
    carry = per.select(
        "event_type",
        "bkt",
        (F.sum("bn").over(w_b) - F.col("bn")).alias("carry"),
        F.sum("bn").over(w_g).alias("n_grp"),
    )
    w_in = (
        Window.partitionBy("event_type", "bkt")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        b.join(carry, ["event_type", "bkt"])
        .select(
            "event_type",
            "value",
            F.col("n").cast("bigint").alias("n"),
            (F.col("carry") + F.sum("n").over(w_in) - F.col("n")).alias(
                "cum_less"
            ),
            "n_grp",
        )
    )
    return ranked.filter(F.col("value") < 5.0).select(
        "event_type",
        "value",
        "n",
        F.when(
            F.col("n_grp") > 1,
            F.col("cum_less").cast("double") / (F.col("n_grp") - F.lit(1)),
        )
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# C177 join-fanout audit: catch the silent row-multiplication bug
# ---------------------------------------------------------------------------
@register(
    "join_fanout_audit",
    oracle="""
    WITH l AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS ml
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS mr
      FROM customer GROUP BY c_custkey
    ),
    j AS (SELECT l.k, l.ml, r.mr FROM l JOIN r USING (k))
    SELECT CAST((SELECT COUNT(*) FROM l) AS BIGINT) AS left_keys,
           CAST((SELECT COUNT(*) FROM r) AS BIGINT) AS right_keys,
           CAST(SUM(CASE WHEN mr > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS right_dup_keys,
           CAST(SUM(ml * mr) AS BIGINT) AS joined_rows,
           CAST(SUM(ml) AS BIGINT) AS left_rows_matched,
           CAST(SUM(ml * mr) - SUM(ml) AS BIGINT) AS fanout_extra_rows
    FROM j
    """,
    survey_ids=("B16", "B10", "B18"),
    description="Join-fanout audit: predicted join cardinality and duplicate-key exposure WITHOUT running the join",
)
def join_fanout_audit(spark: SparkSession, sf: str) -> DataFrame:
    """The warehouse's most common silent bug — a 'dimension' join
    that quietly multiplies fact rows because the dim key isn't unique
    — caught BEFORE running the join: per-side key multiplicities cost
    two map-side-combined aggregations, and the exact joined row count
    is sum(ml * mr) over shared keys. fanout_extra_rows > 0 means the
    join would inflate the fact side (here 0: c_custkey is a true
    key — the audit proving a 1:N join is safe is the point). At
    100 TB this is two cheap aggregates vs discovering the blowup in
    a 3-hour job's shuffle spill.
    """
    l = (
        t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ml"))
    )
    r = (
        t(spark, sf, "customer")
        .groupBy(F.col("c_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("mr"))
    )
    j = l.join(r, "k")
    lk = l.agg(F.count(F.lit(1)).cast("bigint").alias("left_keys"))
    rk = r.agg(F.count(F.lit(1)).cast("bigint").alias("right_keys"))
    agg = j.agg(
        F.sum((F.col("mr") > 1).cast("bigint")).cast("bigint").alias("right_dup_keys"),
        F.sum(F.col("ml") * F.col("mr")).cast("bigint").alias("joined_rows"),
        F.sum("ml").cast("bigint").alias("left_rows_matched"),
    )
    return (
        lk.crossJoin(F.broadcast(rk))
        .crossJoin(F.broadcast(agg))
        .select(
            "left_keys",
            "right_keys",
            "right_dup_keys",
            "joined_rows",
            "left_rows_matched",
            (F.col("joined_rows") - F.col("left_rows_matched")).alias(
                "fanout_extra_rows"
            ),
        )
    )


# ---------------------------------------------------------------------------
# C178 randomized response: privacy-preserving rate estimation
# ---------------------------------------------------------------------------
@register(
    "randomized_response_debias",
    # The flip draw is md5-derived (deterministic replay, like every
    # sampling contract here): flip when the 60-bit hash falls in the
    # bottom quarter of its range — integer comparison, p = 1/4 exact.
    oracle="""
    WITH bits AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS truth,
             CASE WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)
                    || ':rr'), 1, 15)) AS BIGINT) < 288230376151711744
                  THEN 1 ELSE 0 END AS flip
      FROM events
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN flip = 1 THEN 1 - truth ELSE truth END)
                  AS BIGINT) AS reported_yes,
             CAST(SUM(truth) AS BIGINT) AS true_yes
      FROM bits
    )
    SELECT n, reported_yes, true_yes,
           CAST(reported_yes AS DOUBLE) / n AS reported_rate,
           (CAST(reported_yes AS DOUBLE) / n - 0.25) / 0.5 AS debiased_rate,
           CAST(true_yes AS DOUBLE) / n AS true_rate
    FROM agg
    """,
    survey_ids=("B16", "B19", "B43"),
    description="Randomized response (Warner 1965): flip bits at p=1/4, debias the aggregate - local-DP precursor",
)
def randomized_response_debias(spark: SparkSession, sf: str) -> DataFrame:
    """Privacy-preserving rate estimation, the local-DP precursor:
    each record's sensitive bit ('did this user purchase?') is
    REPORTED FLIPPED with probability p = 1/4, so no individual row
    can be trusted — yet the population rate recovers exactly as
    (reported_rate − p) / (1 − 2p). The collector never needs the
    true bits; this query carries them only as the accuracy witness.
    Completes the privacy family: PII redaction strips identifiers,
    k-anonymity bounds joinable risk, randomized response protects
    the VALUES themselves.

    The flip is an integer comparison on an md5-derived hash (p = 1/4
    exactly: bottom quarter of the 60-bit range), so the perturbed
    dataset — not just its aggregate — replays bit-identically in any
    engine: an auditable privacy mechanism. One scan, one 1-row
    aggregate; divisions on exact integers keep the whole output
    bit-exact.
    """
    ev = t(spark, sf, "events")
    truth = (F.col("event_type") == "purchase").cast("long")
    flip = (
        F.expr(
            "CAST(conv(substring(md5(concat(CAST(event_id AS STRING), ':rr')),"
            " 1, 15), 16, 10) AS BIGINT)"
        )
        < F.lit(288230376151711744)  # 2^60 / 4: p = 1/4 exact
    ).cast("long")
    bits = ev.select(truth.alias("truth"), flip.alias("flip"))
    agg = bits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("flip") == 1, 1 - F.col("truth")).otherwise(
                F.col("truth")
            )
        )
        .cast("bigint")
        .alias("reported_yes"),
        F.sum("truth").cast("bigint").alias("true_yes"),
    )
    rate = F.col("reported_yes").cast("double") / F.col("n")
    return agg.select(
        "n",
        "reported_yes",
        "true_yes",
        rate.alias("reported_rate"),
        ((rate - F.lit(0.25)) / F.lit(0.5)).alias("debiased_rate"),
        (F.col("true_yes").cast("double") / F.col("n")).alias("true_rate"),
    )


# ---------------------------------------------------------------------------
# C180 split-conformal prediction intervals around an OLS fit
# ---------------------------------------------------------------------------
@register(
    "split_conformal_ols",
    # Splits are order-keyed sha256 gates (group-level, so lines of
    # one order never straddle the boundary); the conformal quantile
    # is the EXACT ceil((n+1)*0.9)-th order statistic of the round-6
    # calibration residuals (the distribution-free guarantee needs the
    # exact rank, not an interpolated percentile).
    oracle="""
    WITH gated AS (
      SELECT l_quantity AS x, l_extendedprice AS y,
             CAST(('0x' || substr(sha256(CAST(l_orderkey AS VARCHAR)), 1, 2))
                  AS INT) AS hb
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2)))
                  AS DOUBLE) AS sxy
      FROM gated WHERE hb < 170
    ),
    fit AS (
      SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
      FROM m
    ),
    cal AS (
      SELECT ROUND(ABS(y - (a + b * x)), 6) AS r
      FROM gated, fit WHERE hb >= 170 AND hb < 213
    ),
    cal_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
    ranked AS (
      SELECT r, SUM(cnt) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
      FROM (SELECT r, COUNT(*) AS cnt FROM cal GROUP BY r)
    ),
    q AS (
      SELECT MIN(r) AS q_hat
      FROM ranked, cal_n
      WHERE cum >= CEIL(0.9 * (n_cal + 1))
    ),
    test AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ROUND(ABS(y - (a + b * x)), 6) <= q_hat
                           THEN 1 ELSE 0 END) AS BIGINT) AS covered
      FROM gated, fit, q WHERE hb >= 213
    )
    SELECT CAST((SELECT COUNT(*) FROM gated WHERE hb < 170) AS BIGINT)
             AS n_train,
           (SELECT n_cal FROM cal_n) AS n_cal,
           n_test,
           ROUND((SELECT q_hat FROM q), 6) AS q_hat,
           CAST(covered AS DOUBLE) / n_test AS coverage
    FROM test
    """,
    survey_ids=("B23", "B43", "B16"),
    description="Split-conformal OLS intervals: exact rank-(ceil(.9(n+1))) calibration quantile, test coverage",
)
def split_conformal_ols(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-free prediction intervals (split conformal,
    Vovk et al. / Lei et al.): fit OLS on the train split, take the
    ceil(0.9 * (n_cal + 1))-th smallest absolute residual on a held-
    out CALIBRATION split as the interval half-width q, and the
    guarantee P(|y - yhat| <= q) >= 0.9 holds on exchangeable test
    data with NO distributional assumptions — the model-eval operator
    that turns any point predictor into a calibrated interval, which
    is what a 100 TB feature pipeline should ship alongside its fits.

    Pieces already proven here, composed: exact-decimal OLS moments
    (C144), sha256 group-level three-way split (train/cal/test on
    ORDER keys so no order straddles a boundary), and the exact
    order statistic via per-distinct-residual cumulative counts — the
    conformal rank must be exact, not an interpolated percentile.
    The test row reports realized coverage (~0.9) as the witness.
    """
    from ag_data_ingestion_github_to_snowflake_spark.plans.sampling_queries import (
        hash_bucket,
    )

    li = t(spark, sf, "lineitem").select(
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
        hash_bucket(F.col("l_orderkey")).alias("hb"),
    )
    train = li.filter(F.col("hb") < 170)
    cal = li.filter((F.col("hb") >= 170) & (F.col("hb") < 213))
    test = li.filter(F.col("hb") >= 213)
    DEC = "decimal(18,2)"
    m = train.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DEC)).cast("double").alias("sy"),
        F.sum(F.col("x").cast(DEC) * F.col("x").cast(DEC)).cast("double").alias("sxx"),
        F.sum(F.col("x").cast(DEC) * F.col("y").cast(DEC)).cast("double").alias("sxy"),
    )
    b_ = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    # Collect each 1-row value once as a literal: one scan per split (OPTIMIZATION_r13.md §4).
    fit = m.select(
        b_.alias("b"),
        ((F.col("sy") - b_ * F.col("sx")) / F.col("n")).alias("a"),
        F.col("n").cast("bigint").alias("n_train"),
    ).collect()[0]
    a_l, b_l, n_train = F.lit(fit["a"]), F.lit(fit["b"]), fit["n_train"]
    resid = lambda df: F.round(  # noqa: E731
        F.abs(F.col("y") - (a_l + b_l * F.col("x"))), 6
    )
    counts = (
        cal.select(resid(cal).alias("r"))
        .groupBy("r")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # n_cal rides the cumulative's pass, not a second scan (OPTIMIZATION_r13.md §4).
    ranked = counts.select(
        "r",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n_cal"),
    )
    qrow = (
        ranked.filter(
            F.col("cum") >= F.ceil(F.lit(0.9) * (F.col("n_cal") + F.lit(1)))
        )
        .agg(
            F.min("r").alias("q_hat"),
            F.min("n_cal").cast("bigint").alias("n_cal"),
        )
        .collect()[0]
    )
    q_hat, n_cal = qrow["q_hat"], qrow["n_cal"]
    return (
        test.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum((resid(test) <= F.lit(q_hat)).cast("bigint"))
            .cast("bigint")
            .alias("covered"),
        )
        .select(
            F.lit(n_train).cast("bigint").alias("n_train"),
            F.lit(n_cal).cast("bigint").alias("n_cal"),
            "n_test",
            F.round(F.lit(q_hat), 6).alias("q_hat"),
            (F.col("covered").cast("double") / F.col("n_test")).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# epsilon-DP Laplace counts: the central-DP companion of
# randomized_response_debias (which is the local-DP mechanism)
# ---------------------------------------------------------------------------
@register(
    "dp_laplace_counts",
    # Hash contract: the Laplace draw is
    # inverse-CDF over an md5-derived uniform (u = hash/2^60, a dyadic
    # rational) through the portable ln, so the noise double is
    # bit-identical on any engine/libm build; presentation is
    # floor(1e6*x).
    oracle=f"""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_n FROM events GROUP BY 1
    ),
    noise AS (
      SELECT event_type, true_n,
             CAST(('0x' || substr(md5(event_type || ':dp'), 1, 15)) AS BIGINT)
               / 1152921504606846976.0 - 0.5 AS v
      FROM g
    ),
    nz AS (
      SELECT event_type, true_n,
             sign(v) * {portable_ln_sql("1 - 2 * abs(v)", "duckdb")} AS noise
      FROM noise
    )
    SELECT event_type, true_n,
           {floor_e6_sql("true_n - noise")} AS noisy_n_e6,
           {floor_e6_sql("abs(noise)")} AS abs_noise_e6,
           1.0 AS epsilon,
           CAST(1 AS BIGINT) AS sensitivity
    FROM nz
    """,
    survey_ids=("B16", "B43", "B19"),
    description="epsilon-DP Laplace-noised group counts (deterministic inverse-CDF draw)",
)
def dp_laplace_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Differentially-private per-group counts under the central-DP
    Laplace mechanism: each event-type count is released with
    Laplace(sensitivity/epsilon) noise, epsilon = 1. Completes the
    privacy family's third leg — PII redaction strips identifiers,
    k-anonymity bounds joinable risk, randomized response perturbs
    values locally, Laplace perturbs the AGGREGATES centrally. The
    noise draw is inverse-CDF over a seeded hash uniform, so the
    released counts replay identically anywhere — an auditable
    mechanism (sensitivity here is event-level: one event changes a
    count by at most 1; user-level DP would first cap events/user).

    Scale shape: one map-side-combined grouped count; noise is per
    GROUP (a handful of rows), so the mechanism adds zero data-scale
    work. True counts are carried only as the accuracy witness.
    """
    ev = t(spark, sf, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    v = (
        F.expr(
            "CAST(conv(substring(md5(concat(event_type, ':dp')), 1, 15),"
            " 16, 10) AS BIGINT)"
        )
        / F.lit(1152921504606846976.0)  # 2^60: u is a dyadic rational
        - F.lit(0.5)
    )
    nz = g.withColumn("v", v).withColumn(
        "noise",
        F.expr(
            "sign(v) * " + portable_ln_sql("1 - 2 * abs(v)", "spark")
        ),
    )
    return nz.select(
        "event_type",
        "true_n",
        floor_e6(F.col("true_n") - F.col("noise")).alias("noisy_n_e6"),
        floor_e6(F.abs(F.col("noise"))).alias("abs_noise_e6"),
        F.lit(1.0).alias("epsilon"),
        F.lit(1).cast("bigint").alias("sensitivity"),
    )
