"""Scale-technique queries: skew-safe salted aggregation (oracle: the
plain GROUP BY it must be row-identical to)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ag_data_ingestion_github_to_snowflake_spark.operators.skew import salted_aggregate
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import register, t
from ag_data_ingestion_github_to_snowflake_spark.sources.staging import staged


@register(
    "rollup_incremental_merge",
    oracle="""
    SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute,
           event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    survey_ids=("B46", "B18", "B27"),
    description="incremental rollup refresh over 3 batches equals the full aggregate",
)
def rollup_incremental_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous-aggregate maintenance: the events stream arrives in
    three arbitrary batches; each merge folds algebraic partials into
    the rollup state. The oracle is the one-shot full aggregate —
    incremental maintenance must be indistinguishable from recompute.
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.rollup import (
        merge_rollup,
        minute_rollup,
    )

    ev = t(spark, sf, "events")
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    state = minute_rollup(batches[0])
    for b in batches[1:]:
        state = merge_rollup(state, b)
    return state.select(
        F.col("minute").cast("timestamp_ntz").alias("minute"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sv").cast("double").alias("total_value"),
    )


@register(
    "rollup_cascade_daily",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    survey_ids=("B46", "B16", "B18"),
    description="hypertable-style cascade: minute->hour->day rollup equals direct daily agg",
)
def rollup_cascade_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-resolution rollup cascade (hypertable continuous-aggregate
    pattern): raw -> minute -> hour -> day, each level aggregating the
    previous one's partials.

    count and decimal-sum are algebraic, so re-aggregating partials is
    exact — the oracle is the direct daily aggregate. At 100 TB each
    level shrinks the data ~60x, so downstream resolutions cost almost
    nothing and coarse queries never touch raw events; the cascade
    also maps 1:1 onto incremental refresh (only dirty minutes
    recompute upward).
    """
    ev = t(spark, sf, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
    )
    hour = minute.groupBy(
        F.date_trunc("hour", "minute").alias("hour"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    day = hour.groupBy(
        F.date_trunc("day", "hour").alias("day"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    return day.select(
        F.col("day").cast("timestamp_ntz").alias("day"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sv").cast("double").alias("total_value"),
    )


@register(
    "salted_group_sum",
    oracle="""
    SELECT l_returnflag AS rflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    survey_ids=("B16", "B18"),
    description="two-phase salted aggregation equals the plain group-by",
)
def salted_group_sum(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe two-phase aggregation on a low-cardinality key.

    l_returnflag has 3 values over the whole fact table — exactly the
    shape where a single hot reducer melts at 100 TB. The salted plan
    spreads each key over 16 reducers; the oracle proves the result is
    identical to the naive aggregate.
    """
    li = t(spark, sf, "lineitem").select(
        F.col("l_returnflag"),
        F.col("l_orderkey"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty_dec"),
    )
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={"sum_qty": ("qty_dec", "sum"), "n": ("qty_dec", "count")},
        unique_col="l_orderkey",
        n_salts=16,
    )
    return out.select(
        F.col("l_returnflag").alias("rflag"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("n").cast("long").alias("n"),
    )


@register(
    "skew_join_revenue_by_segment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey_ids=("B10", "B16", "B18"),
    description="salted fact / replicated dim join equals the plain equi-join",
)
def skew_join_revenue_by_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe join: orders (fact, salted on o_orderkey) x customer
    (dim, replicated x8) — ``operators/skew.py:replicated_skew_join``.
    A hot customer key spreads over 8 shuffle partitions instead of
    melting one reducer; the oracle proves row-identity with the plain
    join. At 100 TB this is the manual fallback when AQE's skew split
    can't fire (e.g. the skew is in a join feeding another shuffle).
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.skew import (
        replicated_skew_join,
    )

    orders = t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    cust = t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = replicated_skew_join(
        orders, cust, key="o_custkey", fact_unique_col="o_orderkey", n_salts=8
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "incremental_join_refresh",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    survey_ids=("B10", "B16", "B27"),
    description="delta-join view maintenance over appended batches equals the full join",
)
def incremental_join_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental JOIN view maintenance: both orders and lineitem
    arrive in two appends (split on their date columns); the standing
    join view is refreshed via the delta-join identity
    (J ∪ ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR — ``operators/incremental.py``) and
    aggregated. The oracle is the one-shot full join: incremental
    maintenance must be indistinguishable from recompute.

    Plan shape: the standing tables are scanned once each; the delta
    terms broadcast when the delta is under the AQE threshold and
    shuffle otherwise (the 100x sweep showed a forced delta broadcast
    OOMs when a batch outgrows the plan) — refresh cost is
    O(|Δ| x fan-out), never a re-shuffle of the standing view. This is
    the joined-fact sibling of ``rollup_incremental_merge``'s
    algebraic rollup.

    The full-fact shuffle is the standing L⋈R join, which the query
    recomputes by contract (the oracle is the one-shot join); a
    deployed view materializes it and pays O(|Δ|) per refresh
    (tests/test_rollup_refresh.py).
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.incremental import (
        delta_join_append,
    )

    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice", "l_shipdate")
    o_old, o_new = o.filter(F.col("o_orderdate") < cut), o.filter(
        F.col("o_orderdate") >= cut
    )
    l_old, l_new = li.filter(F.col("l_shipdate") < cut), li.filter(
        F.col("l_shipdate") >= cut
    )
    cond_old = o_old.o_orderkey == l_old.l_orderkey
    standing = o_old.join(l_old, cond_old)
    appended = delta_join_append(
        o_old, o_new, l_old, l_new, F.col("o_orderkey") == F.col("l_orderkey")
    )
    view = standing.unionByName(appended)
    return view.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "bloom_prefilter_join",
    oracle="""
    SELECT l.l_returnflag AS returnflag,
           l.l_linestatus AS linestatus,
           count(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag, l.l_linestatus
    """,
    survey_ids=("B10", "B11"),
    description="runtime bloom filter prunes the fact before the join shuffle; exact join removes false positives",
)
def bloom_prefilter_join(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime-filter pattern: bloom-prune lineitem on the urgent
    orders' keys BEFORE the join shuffle, then exact-join to strip the
    bloom's false positives. Must be row-identical to the plain join
    (the oracle), because the bloom has no false negatives.

    Scale shape: the bitmap build is one bounded shuffle (≤ num_bits/64
    word groups) independent of fact size; the probe is a broadcast +
    codegen ``forall``; only surviving rows (~1/5 of lineitem here)
    enter the join shuffle. This is the public-API twin of Spark's
    internal ``BloomFilterAggregate`` runtime filter.
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    urgent = (
        t(spark, sf, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    li = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    bloom = bloom_build(urgent, "o_orderkey")
    pruned = bloom_probe(li, "l_orderkey", bloom)
    return (
        pruned.join(urgent, pruned.l_orderkey == urgent.o_orderkey)
        .groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


@register(
    "skew_diagnostic_orders",
    oracle="""
    WITH c AS (
        SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY o_custkey
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(SUM(n) AS BIGINT) AS total_rows,
               CAST(MAX(n) AS BIGINT) AS max_rows
        FROM c
    )
    SELECT n_keys, total_rows, max_rows,
           (SELECT k FROM c ORDER BY n DESC, k ASC LIMIT 1) AS hottest_key,
           CAST(max_rows AS DOUBLE)
             / (CAST(total_rows AS DOUBLE) / n_keys) AS skew_ratio
    FROM agg
    """,
    survey_ids=("B16", "B18"),
    description="key-skew diagnostic: hottest key and max/mean partition-load ratio",
)
def skew_diagnostic_orders(spark: SparkSession, sf: str) -> DataFrame:
    """The decide-when-to-salt operator: per-key row counts rolled into
    one diagnostic row — distinct key count, hottest key (ties broken
    by smallest key), and the max/mean load ratio a shuffle on this
    key would see. A ratio near 1 means a plain hash shuffle balances;
    a large ratio says salt this key (C9) or let AQE split it.

    Scale shape: one partial-agg count shuffle on the key, then a
    global one-row rollup; max_by with a (count, -key) struct avoids
    any sort or LIMIT over the key counts.
    """
    c = (
        t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    agg = c.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("total_rows"),
        F.max("n").cast("bigint").alias("max_rows"),
        F.max_by(
            F.col("k"), F.struct(F.col("n"), (-F.col("k")).alias("nk"))
        ).alias("hottest_key"),
    )
    return agg.select(
        "n_keys",
        "total_rows",
        "max_rows",
        "hottest_key",
        (
            F.col("max_rows").cast("double")
            / (F.col("total_rows").cast("double") / F.col("n_keys"))
        ).alias("skew_ratio"),
    )


@register(
    "metadata_agg_pushdown",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
           CAST(MAX(o_custkey) AS BIGINT) AS max_cust
    FROM orders
    """,
    survey_ids=("B18", "B1"),
    description="COUNT/MIN/MAX answered from parquet footer metadata (PushedAggregation)",
)
def metadata_agg_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """Global COUNT/MIN/MAX pushed INTO the parquet scan
    (``PushedAggregation`` in the DSv2 plan): the answer comes from
    row-group footer statistics, so a 100 TB table costs one footer
    read per file instead of a full scan — the cheapest possible
    global aggregate.

    Spark gates this behind ``spark.sql.parquet.aggregatePushdown`` on
    the DSv2 read path; both are scoped to a ``newSession()`` clone
    (shared SparkContext, isolated SQLConf) because the main session
    keeps the v1 path for bucketed-table support
    (``bucketed_join_colocated``). The pushdown is asserted in
    ``tests/test_scan_pruning.py``; no filter/no-timestamp limits
    (pushdown silently disables for those) keep this metadata-only.
    """
    s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    orders = s2.read.parquet(f"{sf}/orders.parquet")
    return orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
        F.min("o_custkey").cast("bigint").alias("min_cust"),
        F.max("o_custkey").cast("bigint").alias("max_cust"),
    )


@register(
    "runtime_bloom_filter_join",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000
    GROUP BY o_orderstatus
    """,
    survey_ids=("B10", "B16", "B1"),
    description="Shuffle join pre-pruned by Spark's injected runtime bloom filter",
)
def runtime_bloom_filter_join(spark: SparkSession, sf: str) -> DataFrame:
    """Catalyst's InjectRuntimeFilter at work: the selective orders
    predicate builds a bloom_filter_agg at runtime and a
    ``might_contain`` pre-filter lands on the lineitem scan BEFORE its
    shuffle — at 100 TB this is the difference between shuffling the
    whole fact table and shuffling only rows that can match
    (complement of the hand-built bloom in ``bloom_prefilter_join``,
    which shows the same trick as an explicit operator).

    Confs are scoped to a ``newSession()`` clone: broadcast is
    disabled so the join actually shuffles (a broadcast join needs no
    runtime filter), and the application-side size floor drops to 0
    because the test fixture is far below the 10 GB production
    default. The injected filter is asserted in
    ``tests/test_scan_pruning.py``.
    """
    s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = s2.read.parquet(f"{sf}/lineitem.parquet")
    orders = s2.read.parquet(f"{sf}/orders.parquet").filter(
        F.col("o_totalprice") > 400000
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "partition_grouped_pushdown",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    survey_ids=("B16", "B1", "B3"),
    description="GROUP BY partition column answered from directory metadata (PushedGroupBy)",
)
def partition_grouped_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped COUNT pushed INTO a partitioned parquet scan
    (``PushedGroupBy: [event_type]`` + pushed COUNT(*)): with the
    group key a partition column and no data column referenced, the
    answer comes from per-partition footer row counts — at 100 TB a
    per-partition rollup costs directory listing + footers, zero data
    pages. Events are staged partitioned-by-type once per fixture
    (``sources.staging.staged``); the DSv2 confs are scoped to a
    ``newSession()`` clone exactly as in ``metadata_agg_pushdown``.
    Pushdown asserted in ``tests/test_scan_pruning.py``."""
    stage = staged(
        "ag_part_events",
        sf,
        ["events.parquet"],
        lambda out: t(spark, sf, "events")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(out),
    )
    s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    return (
        s2.read.parquet(stage)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Range-partition planning audit: sampled bounds -> actual bucket
# balance (what repartitionByRange/Sort does internally, made visible)
# ---------------------------------------------------------------------------
@register(
    "range_partition_balance",
    # The sample is a deterministic hash gate narrowed to the first
    # 1000 rows by (hash, key) order, sorted once as a 1-row list;
    # bound indexes are integer arithmetic, bucket assignment counts
    # bounds <= price — everything either integer or a comparison of
    # identical doubles.
    oracle="""
    WITH samp AS (
      SELECT list_sort(list(o_totalprice)) AS s FROM (
        SELECT o_totalprice,
               sha256(CAST(o_orderkey AS VARCHAR)) AS hx, o_orderkey
        FROM orders
        WHERE CAST(('0x' || substr(sha256(CAST(o_orderkey AS VARCHAR)), 1, 2)) AS INT) < 4
        ORDER BY hx, o_orderkey
        LIMIT 1000
      )
    ),
    b AS (
      SELECT [s[CAST(ceil(i * len(s) / 16.0) AS BIGINT)]
              FOR i IN generate_series(1, 15)] AS bounds
      FROM samp
    ),
    assigned AS (
      SELECT CAST(len(list_filter(b.bounds, x -> o.o_totalprice >= x)) AS BIGINT)
               AS bucket
      FROM orders o, b
    ),
    counts AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows FROM assigned GROUP BY bucket
    ),
    tot AS (SELECT CAST(SUM(n_rows) AS DOUBLE) AS n FROM counts)
    SELECT bucket, n_rows,
           ROUND(n_rows / (n / 16.0), 6) AS balance_ratio
    FROM counts, tot
    """,
    survey_ids=("B24", "B23", "B9"),
    description="Range-partitioner audit: sampled split bounds vs actual bucket balance",
)
def range_partition_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Make repartitionByRange's internal decision auditable: draw the
    deterministic bounded sample a range partitioner would draw,
    derive 16 split bounds, then measure how balanced the ACTUAL row
    distribution over those bounds is (balance_ratio 1.0 = perfect).
    The pre-flight check before a sort/range-bucketed write at 100 TB
    — a 10x-hot bucket found here is a straggler task avoided there.

    Scale shape: the sample is a hash gate + map-side top-k heap
    (never a global sort), sorted once as a single 1000-element list;
    bucket assignment is a broadcast of the 15-bound array folded per
    row (F.aggregate over literals-at-runtime); the final count is one
    map-side-combined 16-group shuffle.
    """
    orders = t(spark, sf, "orders")
    hx = F.sha2(F.col("o_orderkey").cast("string"), 256)
    gate = F.conv(F.substring(hx, 1, 2), 16, 10).cast("int") < 4
    samp = (
        orders.filter(gate)
        .select("o_totalprice", hx.alias("hx"), "o_orderkey")
        .orderBy("hx", "o_orderkey")
        .limit(1000)
        .agg(F.sort_array(F.collect_list("o_totalprice")).alias("s"))
    )
    n = F.size("s")
    bounds = samp.select(
        F.transform(
            F.sequence(F.lit(1), F.lit(15)),
            lambda i: F.element_at(
                F.col("s"), F.ceil(i * n / F.lit(16.0)).cast("int")
            ),
        ).alias("bounds")
    )
    assigned = orders.join(F.broadcast(bounds)).select(
        F.size(
            F.filter(
                F.col("bounds"), lambda x: F.col("o_totalprice") >= x
            )
        )
        .cast("bigint")
        .alias("bucket")
    )
    counts = assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    tot = counts.agg(F.sum("n_rows").cast("double").alias("n"))
    return counts.join(F.broadcast(tot)).select(
        "bucket",
        "n_rows",
        F.round(F.col("n_rows") / (F.col("n") / F.lit(16.0)), 6).alias(
            "balance_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) via a two-level STRICT running max —
# the window-wall pattern extended from prefix sums to running extrema
# ---------------------------------------------------------------------------
@register(
    "skyline_price_date_orders",
    # Dominance compares exact doubles/timestamps; the strict running
    # max is computed over the distinct-price table, so equal prices
    # share one row and the strict (1 PRECEDING) frame is exact.
    oracle="""
    WITH per_price AS (
      SELECT o_totalprice AS price, MAX(o_orderdate) AS meq
      FROM orders GROUP BY 1
    ),
    runmax AS (
      SELECT price, meq,
             MAX(meq) OVER (ORDER BY price DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS mstrict
      FROM per_price
    )
    SELECT o.o_orderkey AS orderkey,
           o.o_totalprice AS price,
           o.o_orderdate AS orderdate
    FROM orders o JOIN runmax r ON o.o_totalprice = r.price
    WHERE (r.mstrict IS NULL OR o.o_orderdate > r.mstrict)
      AND o.o_orderdate = r.meq
    """,
    survey_ids=("B14", "B29", "B24"),
    description="2-D skyline (max price, max recency) via two-level strict running max",
)
def skyline_price_date_orders(spark: SparkSession, sf: str) -> DataFrame:
    """The Pareto frontier of orders over (total price high, order
    date recent): an order survives iff NO other order is at least as
    good on both axes and strictly better on one — the multi-objective
    top-k that a plain ORDER BY cannot express (skyline operator,
    Borzsony/Kossmann/Stocker ICDE'01).

    Scale shape: dominance against the whole fact table reduces to a
    STRICT running max of per-price best dates over the DISTINCT-price
    table — never an all-pairs join. The running max is computed with
    the two-level bucket scan (bucket carry via lag of the bucket
    running max + in-bucket 1-PRECEDING frame), so no single task
    scans all distinct prices; the frontier test then joins back on
    the price key. Running MAX is associative, so the bucket-major
    decomposition is exact.
    """
    orders = t(spark, sf, "orders")
    per_price = orders.groupBy(F.col("o_totalprice").alias("price")).agg(
        F.max("o_orderdate").alias("meq")
    )
    # two-level strict running max over price DESC: bucket by price
    # range; DESC order means higher buckets come first
    b = per_price.withColumn(
        "bkt", F.floor(F.col("price") / F.lit(25000.0)).cast("long")
    )
    per_bkt = b.groupBy("bkt").agg(F.max("meq").alias("bmax"))
    w_b = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = per_bkt.select(
        "bkt", F.max("bmax").over(w_b).alias("carry")
    )
    w_in = Window.partitionBy("bkt").orderBy(F.col("price").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    runmax = (
        b.join(F.broadcast(carry), "bkt")
        .select(
            "price",
            "meq",
            F.greatest(
                F.max("meq").over(w_in),
                F.col("carry"),
            ).alias("_both"),
            F.coalesce(F.max("meq").over(w_in), F.col("carry")).alias("_one"),
        )
        # greatest() is null-safe only when one side exists; coalesce
        # covers the single-sided cases, greatest the two-sided one
        .select(
            "price",
            "meq",
            F.coalesce(F.col("_both"), F.col("_one")).alias("mstrict"),
        )
    )
    return (
        orders.join(runmax, orders.o_totalprice == runmax.price)
        .filter(
            (F.col("mstrict").isNull() | (F.col("o_orderdate") > F.col("mstrict")))
            & (F.col("o_orderdate") == F.col("meq"))
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderdate").alias("orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# Join-size estimation from per-key histograms (planner diagnostics)
# ---------------------------------------------------------------------------
@register(
    "join_size_estimate",
    # Exact per-key counts on each side; predicted pairs = sum of
    # count products over shared keys — all integer-exact (DECIMAL(38)
    # accumulators), no join of fact rows anywhere.
    oracle="""
    WITH oc AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    cc AS (
      SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM customer GROUP BY 1
    ),
    fk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_shared_keys,
             CAST(CAST(SUM(oc.c * cc.c) AS DECIMAL(38,0)) AS BIGINT)
               AS predicted_pairs,
             CAST(MAX(oc.c * cc.c) AS BIGINT) AS max_key_pairs
      FROM oc JOIN cc ON cc.k = oc.k
    ),
    ue AS (
      SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    sj AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_shared_keys,
             CAST(CAST(SUM(c * c) AS DECIMAL(38,0)) AS BIGINT)
               AS predicted_pairs,
             CAST(MAX(c * c) AS BIGINT) AS max_key_pairs
      FROM ue
    )
    SELECT 'orders~customer' AS join_name, n_shared_keys, predicted_pairs,
           max_key_pairs,
           ROUND(CAST(max_key_pairs AS DOUBLE) / predicted_pairs, 6)
             AS top_key_share
    FROM fk
    UNION ALL
    SELECT 'events~events(user_id)', n_shared_keys, predicted_pairs,
           max_key_pairs,
           ROUND(CAST(max_key_pairs AS DOUBLE) / predicted_pairs, 6)
    FROM sj
    """,
    survey_ids=("B16", "B10", "B43"),
    description="Predict equi-join output sizes from per-key histograms without running the joins",
)
def join_size_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """What the optimizer estimates, done exactly: the output size of
    an equi-join is sum over shared keys of the count product, so two
    per-key histograms predict it WITHOUT materializing a single
    joined row — the pre-flight check a 100 TB pipeline runs before an
    expensive join, and the skew diagnostic (top_key_share) that says
    whether AQE skew-split or salting will be needed.

    Scale shape: one map-side-combined count per side, one key-bounded
    histogram join (never fact x fact), integer-exact products summed
    in DECIMAL(38). The events self-join estimate needs no join at
    all — it is sum of squared per-user counts.
    """
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    ev = t(spark, sf, "events")
    oc = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("co")
    )
    cc = c.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cc")
    )
    fk = oc.join(cc, "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_keys"),
        F.sum((F.col("co") * F.col("cc")).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("predicted_pairs"),
        F.max(F.col("co") * F.col("cc")).cast("bigint").alias("max_key_pairs"),
    )
    ue = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    sj = ue.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_keys"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("predicted_pairs"),
        F.max(F.col("c") * F.col("c")).cast("bigint").alias("max_key_pairs"),
    )
    share = F.round(
        F.col("max_key_pairs").cast("double") / F.col("predicted_pairs"), 6
    ).alias("top_key_share")
    return fk.select(
        F.lit("orders~customer").alias("join_name"),
        "n_shared_keys",
        "predicted_pairs",
        "max_key_pairs",
        share,
    ).unionAll(
        sj.select(
            F.lit("events~events(user_id)").alias("join_name"),
            "n_shared_keys",
            "predicted_pairs",
            "max_key_pairs",
            share,
        )
    )
