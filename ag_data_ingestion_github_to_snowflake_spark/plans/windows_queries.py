"""Window-function queries (SURVEY §2.B29-B32) and batch forms of the
time-window aggregations (B46-B48).

No window functions exist in the reference; these supply the "latest
snapshot per repo" / delta-between-runs surface its hourly accumulation
implies (/root/reference/README.md:151-156).

Scale notes: every window partitions by a key (custkey/user_id) —
Spark shuffles once on that key and sorts within partitions. Skewed
partition keys are the risk at 100 TB; these queries use high-cardinality
keys so partitions stay small. Time-window aggs use F.window (tumbling /
sliding / session), which is a projection + groupBy — no per-row state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ag_data_ingestion_github_to_snowflake_spark.functions.exact import DEC6
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import register, t
from ag_data_ingestion_github_to_snowflake_spark.plans.streaming_queries import (
    TUMBLING_EVENTS_ORACLE,
)


# ---------------------------------------------------------------------------
# B29 + B32 row_number: top-k per group ("latest snapshot per repo")
# ---------------------------------------------------------------------------
@register(
    "window_topk_orders_per_customer",
    oracle="""
    SELECT custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey AS custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
    survey_ids=("B29", "B32"),
)
def window_topk_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 orders per customer via row_number (dedupe-to-latest shape)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        t(spark, sf, "orders")
        .select(
            F.col("o_custkey").alias("custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# B29 rank / dense_rank
# ---------------------------------------------------------------------------
@register(
    "window_rank_price",
    oracle="""
    SELECT p_brand AS brand, p_partkey, p_retailprice,
           RANK()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk,
           DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS drnk
    FROM part
    """,
    survey_ids=("B29",),
)
def window_rank_price(spark: SparkSession, sf: str) -> DataFrame:
    """rank + dense_rank over brand partitions."""
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return t(spark, sf, "part").select(
        F.col("p_brand").alias("brand"),
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


# ---------------------------------------------------------------------------
# B30 lag / lead (star-count deltas between runs analog)
# ---------------------------------------------------------------------------
@register(
    "window_lag_lead_orders",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey,
           o_totalprice,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
    survey_ids=("B30",),
)
def window_lag_lead_orders(spark: SparkSession, sf: str) -> DataFrame:
    """lag/lead over each customer's order history (run-over-run deltas)."""
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    return t(spark, sf, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


# ---------------------------------------------------------------------------
# B31 sliding frame aggregate (moving average on events)
# ---------------------------------------------------------------------------
@register(
    "window_moving_avg_events",
    oracle="""
    SELECT user_id, event_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg
    FROM events
    """,
    survey_ids=("B31",),
)
def window_moving_avg_events(spark: SparkSession, sf: str) -> DataFrame:
    """3-row moving average of event value per user.

    ROWS frame over ≤3 values: the summation order is fixed by the
    frame, so plain double AVG is deterministic; rounded to 6 dp.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-2, Window.currentRow)
    )
    return t(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 6).alias("mavg"),
    )


# ---------------------------------------------------------------------------
# B46 tumbling time window (batch form; streaming twin in streaming/)
# ---------------------------------------------------------------------------
@register(
    "tumbling_window_events",
    oracle=TUMBLING_EVENTS_ORACLE,
    survey_ids=("B46",),
)
def tumbling_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """1-hour tumbling window counts/sums per event type.

    Identical logical plan to the Structured Streaming version
    (streaming/windows.py) — F.window is just a derived grouping column.
    """
    return (
        t(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# B47 sliding time window (1 hour every 15 minutes)
# ---------------------------------------------------------------------------
@register(
    "sliding_window_events",
    oracle="""
    SELECT ws.window_start, count(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events e
    JOIN (SELECT unnest([0,1,2,3]) AS k) s ON TRUE
    JOIN LATERAL (
      SELECT time_bucket(INTERVAL '15 minutes', e.ts) - s.k * INTERVAL '15 minutes' AS window_start
    ) ws ON ws.window_start + INTERVAL '1 hour' > e.ts AND ws.window_start <= e.ts
    GROUP BY 1
    """,
    survey_ids=("B47",),
)
def sliding_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding 1h/15min window totals (each event lands in 4 windows)."""
    return (
        t(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# B48 session window (gaps-and-islands oracle)
# ---------------------------------------------------------------------------
@register(
    "session_window_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             -- >= not >: Spark session windows are [ts, ts+gap) and an
             -- event at exactly prev_ts + gap starts a NEW session.
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    survey_ids=("B48",),
)
def session_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """30-minute-gap session windows per user via F.session_window.

    The oracle proves the semantics with classic gaps-and-islands SQL:
    a session starts when the previous event is >30 min older; Spark's
    session_window merges exactly those runs.
    """
    return (
        t(spark, sf, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# B29 distribution ranks: ntile / percent_rank / cume_dist
# ---------------------------------------------------------------------------
@register(
    "window_distribution_acctbal",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    survey_ids=("B29",),
    description="Distribution window functions: quartile, percent_rank, cume_dist per segment",
)
def window_distribution_acctbal(spark: SparkSession, sf: str) -> DataFrame:
    """Account-balance distribution position of every customer within
    its market segment — the ntile/percent_rank/cume_dist trio.

    One shuffle on the partition key, sort within partitions, all three
    functions evaluated in a single Window node over the same sort.
    The ORDER BY carries the unique ``c_custkey`` tiebreak so ranks are
    total and both engines agree row-for-row; the rank ratios are exact
    small-integer divisions, deterministic in IEEE double.
    """
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    )
    return t(spark, sf, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Window value functions: first_value / last_value / nth_value over an
# unbounded frame — "first order, latest order, second order" per
# customer in one shuffle+sort.
# ---------------------------------------------------------------------------
@register(
    "window_value_funcs",
    oracle="""
    SELECT custkey, first_price, last_price, second_price
    FROM (
      SELECT o_custkey AS custkey,
             first_value(o_totalprice) OVER w AS first_price,
             last_value(o_totalprice) OVER w AS last_price,
             nth_value(o_totalprice, 2) OVER w AS second_price,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    WHERE rn = 1
    """,
    survey_ids=("B29", "B31"),
)
def window_value_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """first/last/nth_value over each customer's order history.

    One window spec shared by all four functions — Catalyst computes
    them in a single Window physical node: one shuffle on o_custkey,
    one sort, no matter how many value functions ride the frame.
    """
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wr = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t(spark, sf, "orders")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(w).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# B31 range frame: RANGE BETWEEN over a 90-day event-time horizon —
# the time-based sibling of the row-count sliding frame. Ordering is
# an integer day offset so the frame bound is exact in both engines.
# ---------------------------------------------------------------------------
@register(
    "window_range_frame_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY date_diff('day', DATE '1990-01-01', o_orderdate)
             RANGE BETWEEN 90 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_90d_spend
    FROM orders
    """,
    survey_ids=("B31",),
)
def window_range_frame_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-90-day spend per customer via a RANGE frame.

    rangeBetween(-90, 0) over an integer day index: the frame holds
    every order within 90 days of the current one — including same-day
    peers, which a rowsBetween frame would miscount. Range frames make
    the result tiebreak-independent, so the decimal-exact SUM needs no
    unique ordering key. One shuffle on o_custkey.
    """
    day_idx = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day_idx)
        .rangeBetween(-90, Window.currentRow)
    )
    return t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_90d_spend"),
    )
