"""Join queries (SURVEY §2.B10-B15).

The reference has exactly one *implicit* join — the list->detail
enrichment keyed on (owner, name)
(/root/reference/src/extract_github_data.py:677-699) — and zero SQL
joins; the star-schema fixtures make joins first-class here.

Scale notes: small dims (region 5 rows, nation 25 rows, supplier) are
explicitly broadcast — at 100 TB the fact side never shuffles for these
joins. Fact-fact joins (lineitem ⋈ orders) shuffle on the join key;
AQE handles skew splitting. At warehouse scale both sides would be
bucketed on orderkey to eliminate the shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ag_data_ingestion_github_to_snowflake_spark.functions.exact import DEC2 as DEC
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import register, t


# ---------------------------------------------------------------------------
# B10 inner equi-join (fact ⋈ fact: shuffle / sort-merge, AQE may flip)
# ---------------------------------------------------------------------------
@register(
    "join_inner_lineitem_orders",
    oracle="""
    SELECT o.o_orderstatus AS status,
           count(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    survey_ids=("B10",),
)
def join_inner_lineitem_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Inner equi-join of the two fact tables + aggregate."""
    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# B11 broadcast hash join (explicit hint on the small dims)
# ---------------------------------------------------------------------------
@register(
    "join_broadcast_nation_region",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region, count(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    survey_ids=("B11",),
)
def join_broadcast_nation_region(spark: SparkSession, sf: str) -> DataFrame:
    """Customer ⋈ broadcast(nation) ⋈ broadcast(region): zero fact shuffle
    for the join itself — the dims ship to every executor."""
    c = t(spark, sf, "customer")
    n = F.broadcast(t(spark, sf, "nation"))
    r = F.broadcast(t(spark, sf, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# B12 left outer join (404-tolerant enrichment analog,
# src/extract_github_data.py:480-487: missing detail doesn't drop the run)
# ---------------------------------------------------------------------------
@register(
    "join_left_customer_orders",
    oracle="""
    SELECT c.c_custkey AS custkey,
           count(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS spend
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
    survey_ids=("B12",),
)
def join_left_customer_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Left join keeps order-less customers (404-tolerant enrichment)."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(F.col("o_totalprice").cast(DEC)), F.lit(0).cast(DEC))
            .cast("double")
            .alias("spend"),
        )
    )


# ---------------------------------------------------------------------------
# B13 left semi / anti join (cache-hit vs cache-miss split analog,
# src/extract_github_data.py:452-456)
# ---------------------------------------------------------------------------
@register(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey AS custkey, c_mktsegment AS segment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
    survey_ids=("B13",),
)
def join_semi_customers_with_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi: customers having ≥1 order (cache-hit side)."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey AS custkey, c_mktsegment AS segment
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    """,
    survey_ids=("B13",),
)
def join_anti_customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Left-anti: customers with no orders (cache-miss side)."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )


# ---------------------------------------------------------------------------
# B14 theta / non-equi join (equi key + range condition)
# ---------------------------------------------------------------------------
THETA_ACCTBAL_ORACLE = """
    SELECT s.s_suppkey AS suppkey,
           count(*) AS n_richer_customers
    FROM supplier s
    JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND c.c_acctbal > s.s_acctbal
    GROUP BY s.s_suppkey
"""


@register(
    "theta_join_rank_rewrite",
    oracle=THETA_ACCTBAL_ORACLE,
    survey_ids=("B14", "B31"),
    description="Theta-join count via rank arithmetic: O(n log n) twin of join_theta_acctbal",
)
@register(
    "join_theta_acctbal",
    oracle=THETA_ACCTBAL_ORACLE,
    survey_ids=("B14",),
    description="Equi+inequality join: same-nation customers richer than supplier.",
)
def theta_join_rank_rewrite(spark: SparkSession, sf: str) -> DataFrame:
    """Equi+inequality join: same-nation customers richer than each
    supplier, counted without materialising the pairs. A join on
    nation with a residual ``c_acctbal > s_acctbal`` enumerates |S|x|C|
    pairs within each of 25 fixed nations, so it grows quadratically
    (OPTIMIZATION_r15.md, "One plan per answer"). Instead, union both
    tables tagged, one window over (nation ORDER BY acctbal) with a
    RANGE frame — peers included, so the running customer count at a
    supplier row is exactly #{c_acctbal <= s_acctbal} — and subtract
    from the nation's customer total. One shuffle + sort, output |S|
    rows. Suppliers with zero richer customers are filtered to match
    the inner-join contract.
    """
    s = t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit(0).alias("is_cust"),
    )
    c = t(spark, sf, "customer").select(
        F.lit(None).cast("long").alias("suppkey"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit(1).alias("is_cust"),
    )
    w_cum = (
        Window.partitionBy("nationkey")
        .orderBy("acctbal")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_nation = Window.partitionBy("nationkey")
    ranked = s.unionByName(c).select(
        "suppkey",
        "is_cust",
        (F.sum("is_cust").over(w_nation) - F.sum("is_cust").over(w_cum))
        .cast("long")
        .alias("n_richer_customers"),
    )
    return ranked.filter(
        (F.col("is_cust") == 0) & (F.col("n_richer_customers") > 0)
    ).select("suppkey", "n_richer_customers")


# ---------------------------------------------------------------------------
# B15 multi-way star join — the flagship query (entry() runs this)
# ---------------------------------------------------------------------------
@register(
    "top_revenue_nations",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation ASC
    """,
    survey_ids=("B15", "B10", "B11", "B16", "B24"),
)
def top_revenue_nations(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship TPC-H Q5-shaped star join: revenue by nation in ASIA.

    Plan shape at scale: lineitem⋈orders is the only fact-fact shuffle;
    customer joins on custkey (shuffle, AQE-coalesced); nation/region
    broadcast. Filters on region/date reach the scans via pushdown.
    """
    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = t(spark, sf, "customer")
    n = F.broadcast(t(spark, sf, "nation"))
    r = F.broadcast(t(spark, sf, "region").filter(F.col("r_name") == "ASIA"))
    revenue = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount")).cast(DEC)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue).cast("double").alias("revenue"), F.count("*").alias("n_items"))
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


# ---------------------------------------------------------------------------
# B15 wide star join with supplier (6 tables)
# ---------------------------------------------------------------------------
@register(
    "star_join_wide",
    oracle="""
    SELECT r.r_name AS region,
           o.o_orderstatus AS status,
           count(*) AS n,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, o.o_orderstatus
    """,
    survey_ids=("B15",),
)
def star_join_wide(spark: SparkSession, sf: str) -> DataFrame:
    """Six-table star join grouped by region and status."""
    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    s = F.broadcast(t(spark, sf, "supplier"))
    n = F.broadcast(t(spark, sf, "nation"))
    r = F.broadcast(t(spark, sf, "region"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("qty"),
        )
    )


@register(
    "join_full_outer_daily_activity",
    oracle="""
    WITH clicks AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_clicks
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    buys AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_buys
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT CAST(COALESCE(c.day, b.day) AS TIMESTAMP) AS day,
           CAST(COALESCE(c.n_clicks, 0) AS BIGINT) AS n_clicks,
           CAST(COALESCE(b.n_buys, 0) AS BIGINT) AS n_buys
    FROM clicks c FULL OUTER JOIN buys b ON c.day = b.day
    """,
    survey_ids=("B12", "B16", "B33"),
    description="FULL OUTER join of two daily aggregates; one-sided days survive",
)
def join_full_outer_daily_activity(spark: SparkSession, sf: str) -> DataFrame:
    """Daily click vs purchase counts, FULL OUTER joined: a day with
    only one activity type must survive with a zero on the other side
    (inner/left would silently drop or bias it). Full outer shuffles
    both sides on the day key — fine here because both inputs are
    already small aggregates, the cheap-side pattern for outer
    reconciliation at scale.
    """
    ev = t(spark, sf, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clicks"))
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_buys"))
    )
    c, b = clicks.alias("c"), buys.alias("b")
    return (
        c.join(b, F.col("c.day") == F.col("b.day"), "full_outer")
        .select(
            # DATE hashes differently across engines (pandas object vs
            # datetime64); both sides emit midnight TIMESTAMP instead
            F.coalesce(F.col("c.day"), F.col("b.day"))
            .cast("timestamp_ntz")
            .alias("day"),
            F.coalesce(F.col("c.n_clicks"), F.lit(0)).cast("bigint").alias("n_clicks"),
            F.coalesce(F.col("b.n_buys"), F.lit(0)).cast("bigint").alias("n_buys"),
        )
    )


# ---------------------------------------------------------------------------
# B10/B3 bucketed co-located join: the write-once, shuffle-never layout
# ---------------------------------------------------------------------------
@register(
    "bucketed_join_colocated",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    survey_ids=("B10", "B3", "B16"),
    description="fact-fact join over co-bucketed tables: shuffle paid once at write time",
)
def bucketed_join_colocated(spark: SparkSession, sf: str) -> DataFrame:
    """Stage lineitem and orders as co-bucketed (8 buckets, orderkey),
    then join via the catalog tables: both scans expose the same hash
    partitioning, so the sort-merge join plans with NO Exchange on
    either side (guarded by tests/test_bucketed.py on the physical
    plan). At 100 TB this is the difference between shuffling the two
    biggest tables on every join and never shuffling them again after
    the initial layout write. Result equivalence is oracle-checked
    against the plain (non-bucketed) join.
    """
    from ag_data_ingestion_github_to_snowflake_spark.sources.bucketed import (
        bucketed_pair,
    )

    bli, bord = bucketed_pair(
        spark,
        sf,
        ("lineitem", "l_orderkey", ["l_extendedprice", "l_discount"]),
        ("orders", "o_orderkey", ["o_orderpriority"]),
    )
    return (
        bli.join(bord, bli["l_orderkey"] == bord["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1) - F.col("l_discount")).cast(DEC)
            )
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# C165 spatial grid-cell neighbor join: radius search without the
# all-pairs cross join
# ---------------------------------------------------------------------------
@register(
    "spatial_grid_neighbors",
    # Coordinates are md5-derived integers scaled to a planar grid —
    # deterministic in both engines — and distances stay SQUARED
    # integers (no sqrt, no haversine trig: libm-free hash contract).
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':x'), 1, 8))
                  AS BIGINT) % 10000 AS x,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':y'), 1, 8))
                  AS BIGINT) % 10000 AS y
      FROM customer
    ),
    cells AS (
      SELECT *, x // 100 AS cx, y // 100 AS cy FROM pts
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM cells a
      JOIN cells b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(d2 AS BIGINT) AS d2
    FROM pairs WHERE d2 <= 100 * 100
    """,
    survey_ids=("B14", "B10", "B43"),
    description="Spatial radius join via grid-cell blocking (cell + 8 neighbors), squared-distance exact",
)
def spatial_grid_neighbors(spark: SparkSession, sf: str) -> DataFrame:
    """Points within radius r of each other WITHOUT the all-pairs
    cross join — the grid-cell spatial join: bucket points into
    r-sized cells, compare each point only against its own and the 8
    adjacent cells (any pair within r must share that 3x3 window),
    then filter by exact squared distance. The same blocking idea as
    LSH bands / SimHash pigeonholes, in 2-D geometry: candidate count
    scales with local density, never N².

    Coordinates are md5-derived (deterministic, engine-replayable)
    on a 10000x10000 planar grid with r = 100 = the cell size;
    distances stay squared integers — exact, no sqrt/no trig in the
    hash contract. The neighbor expansion is a 9-way bounded range
    join on cell ids (Spark plans the cx band + cy band as an equi
    join on cx-bucket with range residual after the explode below —
    here expressed as an explode of the 9 neighbor offsets into an
    EQUI key, the shuffle-friendly form).
    """
    c = t(spark, sf, "customer").select(F.col("c_custkey").alias("id"))
    h = lambda salt: F.expr(  # noqa: E731
        f"CAST(conv(substring(md5(concat(CAST(id AS STRING), ':{salt}')), 1, 8),"
        " 16, 10) AS BIGINT) % 10000"
    )
    pts = c.select("id", h("x").alias("x"), h("y").alias("y")).withColumn(
        "cx", (F.col("x") / 100).cast("long")
    ).withColumn("cy", (F.col("y") / 100).cast("long"))
    # left side replicates into its 9-cell neighborhood so the join is
    # a pure EQUI join on the cell key (one shuffle, no range residual)
    offs = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx ->"
        " transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    a = pts.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        offs.alias("o"),
        "cx",
        "cy",
    ).select(
        "id_a",
        "xa",
        "ya",
        (F.col("cx") + F.col("o.dx")).alias("jx"),
        (F.col("cy") + F.col("o.dy")).alias("jy"),
    )
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(b, ["jx", "jy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", d2.cast("bigint").alias("d2"))
        .filter(F.col("d2") <= 100 * 100)
    )
