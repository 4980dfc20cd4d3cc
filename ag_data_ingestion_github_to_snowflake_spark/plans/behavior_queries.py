"""Behavioral analytics over the event stream: funnel conversion and
event-transition paths — the product-analytics queries that sit on top
of sessionization (B46-B48) in any events warehouse.

Both are single-pass shapes: the funnel is two aggregations and one
user-keyed join; the transition matrix is one window (lead) and one
aggregation. No per-user state beyond the shuffle key, so both scale
with user cardinality, not event volume per user.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.operators.portable_math import (
    floor_e6,
    floor_e6_sql,
)
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import register, t

# SPRT constants as precomputed double literals (no engine libm; repr
# round-trips to the identical double everywhere — COVERAGE.md's
# hash-contract audit).
_SPRT_L1 = repr(math.log(0.52 / 0.48))
_SPRT_L0 = repr(math.log(0.48 / 0.52))
_SPRT_BOUND = repr(math.log(19.0))


@register(
    "funnel_click_purchase_daily",
    oracle="""
    WITH first_click AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             MIN(ts) AS first_click_ts
      FROM events WHERE event_type = 'click'
      GROUP BY 1, 2
    ),
    converted AS (
      SELECT DISTINCT fc.user_id, fc.day
      FROM first_click fc
      JOIN events p
        ON p.user_id = fc.user_id
       AND p.event_type = 'purchase'
       AND p.ts >= fc.first_click_ts
       AND p.ts <= fc.first_click_ts + INTERVAL 30 MINUTE
    )
    SELECT fc.day,
           CAST(COUNT(*) AS BIGINT) AS n_clickers,
           CAST(COUNT(c.user_id) AS BIGINT) AS n_converted
    FROM first_click fc
    LEFT JOIN converted c ON c.user_id = fc.user_id AND c.day = fc.day
    GROUP BY fc.day
    """,
    survey_ids=("B16", "B12", "B14"),
    description="Funnel: daily clickers vs click->purchase-within-30min conversions",
)
def funnel_click_purchase_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Two-step funnel with a 30-minute conversion window, reported as
    daily clicker and converter counts.

    Plan: the first-click aggregate shuffles on (user, day); the
    conversion probe is a LEFT SEMI join against purchases on the SAME
    user key with the time bound as a residual predicate (never a
    cartesian); the daily rollup is a tiny final aggregate. Counting
    users-not-events makes the result insensitive to event fan-out.
    """
    ev = t(spark, sf, "events")
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(
            "user_id", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.min("ts").alias("first_click_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        first_click.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("first_click_ts"))
            & (F.col("p_ts") <= F.col("first_click_ts") + F.expr("INTERVAL 30 MINUTE")),
            "left_semi",
        )
        .select("user_id", "day")
        .withColumn("_conv", F.lit(1))
    )
    return (
        first_click.join(converted, ["user_id", "day"], "left")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_clickers"),
            F.count("_conv").alias("n_converted"),
        )
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    )
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    survey_ids=("B30", "B16"),
    description="Markov transition counts: event_type -> next event_type per user",
)
def event_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user event-to-next-event transition counts (the Markov
    matrix behind path analysis / next-action prediction).

    One shuffle for the per-user window (lead over the unique
    (ts, event_id) order — deterministic under timestamp ties), one
    tiny aggregation over the type-pair domain.
    """
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = t(spark, sf, "events").select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "weekly_cohort_retention",
    oracle="""
    WITH cohort AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(datediff('week', c.cohort_week,
                         CAST(date_trunc('week', e.ts) AS TIMESTAMP)) AS INT)
             AS week_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e
    JOIN cohort c ON c.user_id = e.user_id
    GROUP BY 1, 2
    """,
    survey_ids=("B16", "B20", "B33"),
    description="Cohort retention: active users per (first-seen week, week offset)",
)
def weekly_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Classic retention triangle: users grouped by first-seen week,
    counted distinct in each subsequent week.

    Plan: the cohort aggregate and the events⋈cohort join share ONE
    shuffle key (user_id) — co-partitioned, so the join adds no extra
    fact exchange; the distinct-count aggregation on the small
    (cohort, offset) domain is the only other exchange. Both engines
    truncate weeks to Monday and difference whole truncated weeks, so
    the offsets agree exactly.
    """
    ev = t(spark, sf, "events").select("user_id", "ts")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        ev.join(cohort, "user_id")
        .select(
            "cohort_week",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                    / 7
                ).cast("int")
            ).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Event-path analysis: each user's first-8-events type sequence as a
# path string, top-20 paths by user count. The MATCH_RECOGNIZE-ish
# "what journeys do users take" query, built from one user-keyed
# window + one ordered aggregation + a tiny path count.
# ---------------------------------------------------------------------------
@register(
    "user_event_paths",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM ranked WHERE rn <= 8
      GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path ASC
    LIMIT 20
    """,
    survey_ids=("B29", "B16", "B24"),
    description="Top-20 user journey paths (first-8-event type sequences)",
)
def user_event_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top user journeys: ordered event-type path per user, counted.

    One shuffle on user_id serves both the row_number window and the
    path aggregation (same key, Catalyst reuses the exchange); the
    path-frequency agg runs on one short row per user. Path length is
    capped at 8 events so the state per user is bounded — the 100 TB
    guard for power users with millions of events.
    """
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 8)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(20)
    )


@register(
    "ab_test_two_proportion_z",
    oracle="""
    WITH exposed AS (
        SELECT DISTINCT user_id, user_id % 2 AS arm
        FROM events WHERE event_type = 'view'
    ),
    conv AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    stats AS (
        SELECT e.arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(c.user_id) AS BIGINT) AS x
        FROM exposed e LEFT JOIN conv c ON e.user_id = c.user_id
        GROUP BY e.arm
    ),
    wide AS (
        SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 0 THEN x END) AS x0,
               MAX(CASE WHEN arm = 1 THEN x END) AS x1
        FROM stats
    )
    SELECT n0, n1, x0, x1,
           CAST(x0 AS DOUBLE) / NULLIF(n0, 0) AS p0,
           CAST(x1 AS DOUBLE) / NULLIF(n1, 0) AS p1,
           (CAST(x1 AS DOUBLE) / NULLIF(n1, 0)
            - CAST(x0 AS DOUBLE) / NULLIF(n0, 0))
           / NULLIF(sqrt((CAST(x0 + x1 AS DOUBLE) / NULLIF(n0 + n1, 0))
                  * (1 - CAST(x0 + x1 AS DOUBLE) / NULLIF(n0 + n1, 0))
                  * (1.0 / NULLIF(n0, 0) + 1.0 / NULLIF(n1, 0))), 0) AS z
    FROM wide
    """,
    survey_ids=("B18", "B19", "B43"),
    description="two-proportion z-test over deterministic experiment arms (conversion = purchase after view)",
)
def ab_test_two_proportion_z(spark: SparkSession, sf: str) -> DataFrame:
    """A/B significance readout: users split into two arms by
    ``user_id % 2`` (the deterministic stand-in for experiment
    assignment), exposure = a view event, conversion = a purchase
    event; the pooled two-proportion z statistic compares arm
    conversion rates. Division/sqrt expression trees mirror the oracle
    token-for-token so the doubles are IEEE-identical cross-engine.

    Scale shape: two distinct-user sets (hash aggregates), one
    broadcast-able join on user_id, then a 2-row -> 1-row conditional
    pivot — no full-event shuffle beyond the distincts.
    """
    ev = t(spark, sf, "events")
    exposed = (
        ev.where(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .withColumn("arm", F.col("user_id") % 2)
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("cuid"))
        .distinct()
    )
    stats = (
        exposed.join(conv, exposed.user_id == conv.cuid, "left")
        .groupBy("arm")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count("cuid").cast("bigint").alias("x"),
        )
    )
    wide = stats.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x1"),
    )
    n0 = F.nullif(F.col("n0"), F.lit(0))
    n1 = F.nullif(F.col("n1"), F.lit(0))
    n01 = F.nullif(F.col("n0") + F.col("n1"), F.lit(0))
    p0 = F.col("x0").cast("double") / n0
    p1 = F.col("x1").cast("double") / n1
    p_pool = (F.col("x0") + F.col("x1")).cast("double") / n01
    z = (p1 - p0) / F.nullif(
        F.sqrt(
            p_pool
            * (F.lit(1) - p_pool)
            * (F.lit(1.0) / n0 + F.lit(1.0) / n1)
        ),
        F.lit(0.0),
    )
    return wide.select(
        "n0",
        "n1",
        "x0",
        "x1",
        p0.alias("p0"),
        p1.alias("p1"),
        z.alias("z"),
    )


@register(
    "funnel_time_to_convert",
    oracle="""
    WITH first_click AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t_click
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    first_buy AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t_buy
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    delays AS (
        SELECT (b.t_buy - c.t_click) / 1000000.0 AS delay_s
        FROM first_click c JOIN first_buy b ON c.user_id = b.user_id
        WHERE b.t_buy >= c.t_click
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           quantile_cont(delay_s, 0.5) AS p50_s,
           quantile_cont(delay_s, 0.9) AS p90_s
    FROM delays
    """,
    survey_ids=("B16", "B23"),
    description="funnel latency: exact p50/p90 seconds from first click to first purchase per user",
)
def funnel_time_to_convert(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion-latency readout: per user, first click and first
    purchase (min-aggregates, no window), join, keep users who
    converted after clicking, then exact p50/p90 of the delay in
    seconds. Epoch-microsecond arithmetic keeps the delays
    integer-derived so the interpolated percentiles match DuckDB's
    quantile_cont exactly.

    Scale shape: two partial-agg min shuffles on user_id, an equi-join
    of the (already aggregated, one row per user) sides, and a global
    percentile — the standard two-event funnel without any event-level
    self-join.
    """
    ev = t(spark, sf, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    first_click = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_click"))
    )
    first_buy = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_buy"))
    )
    delays = (
        first_click.join(first_buy, "user_id")
        .where(F.col("t_buy") >= F.col("t_click"))
        .select(((F.col("t_buy") - F.col("t_click")) / F.lit(1000000.0)).alias("delay_s"))
    )
    return delays.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.percentile(F.col("delay_s"), F.lit(0.5)).alias("p50_s"),
        F.percentile(F.col("delay_s"), F.lit(0.9)).alias("p90_s"),
    )


@register(
    "cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        FROM events GROUP BY user_id
    ),
    per_day AS (
        SELECT day, CAST(count(*) AS BIGINT) AS new_users
        FROM first_seen GROUP BY day
    )
    SELECT CAST(day AS TIMESTAMP) AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM per_day
    """,
    survey_ids=("B20", "B31"),
    description="running distinct-user count per day via first-seen-day reduction plus running sum",
)
def cumulative_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative distinct users by day — the growing-window
    COUNT(DISTINCT) that a naive window spec cannot express without
    carrying the full user set as window state. Reduction: each user
    contributes exactly once, on their first-seen day, so the answer
    is first-seen-day counts plus a running sum over days.

    Scale shape: one shuffle on user_id (min-day), one tiny shuffle on
    day, and a running sum over the per-day frame (rows = distinct
    days, trivially single-partition); no per-row distinct state
    anywhere.
    """
    ev = t(spark, sf, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    per_day = first_seen.groupBy("day").agg(
        F.count("*").cast("bigint").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        F.col("day").cast("timestamp_ntz").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


@register(
    "session_event_type_pairs",
    oracle="""
    WITH sess AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_sessions
    FROM sess a JOIN sess b
      ON a.user_id = b.user_id AND a.day = b.day
     AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
    survey_ids=("B10", "B16", "B26"),
    description="market-basket pair mining: event-type co-occurrence within (user, day) sessions",
)
def session_event_type_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Which event types co-occur in the same (user, day) session —
    the market-basket pair-count at the heart of association mining.
    Distinct-reduce each session to its item set FIRST, then self-join
    within the session with an ordered (a < b) predicate so each
    unordered pair counts once.

    Scale shape: the distinct bounds the self-join side to (session x
    item-type) rows — the item vocabulary, not the event volume —
    and the equi-join on (user, day) co-locates each session's items
    in one task; the a < b predicate halves the pair space and kills
    self-pairs. Event-level self-joins (quadratic in session length)
    never happen.
    """
    ev = t(spark, sf, "events")
    sess = ev.select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_type"
    ).distinct()
    a = sess.alias("a")
    b = sess.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (data-quality / fraud screening)
# ---------------------------------------------------------------------------
# log10(1 + 1/d) expectations precomputed ONCE in Python float64 and
# inlined as literals on BOTH sides, so no libm call sits inside the
# hash contract (the profile_orders_approx rule).
_BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def _benford_oracle() -> str:
    case = " ".join(
        f"WHEN {d} THEN {p!r}" for d, p in _BENFORD_P.items()
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substr(printf('%.2f', o_totalprice), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM digits WHERE digit BETWEEN 1 AND 9 GROUP BY digit
    ),
    scored AS (
      SELECT digit, n_obs,
             CAST(SUM(n_obs) OVER () AS DOUBLE)
               * (CASE digit {case} END) AS expected
      FROM counts
    ),
    contrib AS (
      SELECT digit, n_obs, ROUND(expected, 6) AS expected,
             ROUND((CAST(n_obs AS DOUBLE) - expected)
                   * (CAST(n_obs AS DOUBLE) - expected) / expected, 6)
               AS chi2_part
      FROM scored
    )
    SELECT digit, n_obs, expected, chi2_part,
           CAST(SUM(CAST(chi2_part AS DECIMAL(18,6))) OVER () AS DOUBLE)
             AS chi2_total
    FROM contrib
    """


@register(
    "benford_first_digit_orders",
    oracle=_benford_oracle(),
    survey_ids=("B16", "B18", "B39"),
    description="Benford first-digit audit of order totals with exact chi-square",
)
def benford_first_digit_orders(spark: SparkSession, sf: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice vs
    Benford's law, with the chi-square statistic — the standard
    data-quality / fraud screen for monetary columns.

    Engine-identical by construction: the digit comes from the SAME
    %.2f string rendering both engines agree on (the
    profile_orders_approx canonicalization), the log10 expectations
    are Python-precomputed literals (no runtime libm), integer counts
    sum exactly, and the chi-square total is the round-6 decimal-sum
    convention — so the 9-row result hash-matches.

    Scale shape: one map-side digit projection + one 9-group
    aggregate; the tiny 9-row window total is a trivial exchange. At
    100 TB this is a single scan with a 9-row reduction.
    """
    o = t(spark, sf, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.format_string("%.2f", F.col("o_totalprice")), 1, 1
    ).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    p_expr = F.when(F.col("digit") == 1, F.lit(_BENFORD_P[1]))
    for d in range(2, 10):
        p_expr = p_expr.when(F.col("digit") == d, F.lit(_BENFORD_P[d]))
    w = Window.partitionBy()
    expected = F.sum("n_obs").over(w).cast("double") * p_expr
    scored = counts.withColumn("expected", expected)
    contrib = scored.select(
        "digit",
        "n_obs",
        F.round("expected", 6).alias("expected"),
        F.round(
            (F.col("n_obs").cast("double") - F.col("expected"))
            * (F.col("n_obs").cast("double") - F.col("expected"))
            / F.col("expected"),
            6,
        ).alias("chi2_part"),
    )
    return contrib.withColumn(
        "chi2_total",
        F.sum(F.col("chi2_part").cast("decimal(18,6)")).over(w).cast("double"),
    )


# ---------------------------------------------------------------------------
# SCD2 dimension history (all versions; argmax_order_per_segment keeps the top one)
# ---------------------------------------------------------------------------
SCD2_CUSTOMER_HISTORY_ORACLE = """
    WITH changes AS (
      SELECT c_custkey AS custkey,
             TIMESTAMP '1990-01-01 00:00:00' AS ts,
             c_mktsegment AS tier,
             CAST(0 AS BIGINT) AS seq
      FROM customer WHERE c_custkey < 300
      UNION ALL
      SELECT o_custkey, o_orderdate, o_orderpriority, o_orderkey
      FROM orders WHERE o_custkey < 300
    ),
    marked AS (
      SELECT *, LAG(tier) OVER (PARTITION BY custkey ORDER BY ts, seq) AS prev
      FROM changes
    ),
    vers AS (
      SELECT custkey, ts, tier, seq FROM marked
      WHERE prev IS DISTINCT FROM tier
    )
    SELECT custkey, tier,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY custkey ORDER BY ts, seq) AS valid_to,
           LEAD(ts) OVER (PARTITION BY custkey ORDER BY ts, seq) IS NULL
             AS is_current
    FROM vers
"""


@register(
    "scd2_customer_history",
    oracle=SCD2_CUSTOMER_HISTORY_ORACLE,
    survey_ids=("B29", "B30", "B27"),
    description="SCD2 dimension history from a change log (valid_from/valid_to/is_current)",
)
def scd2_customer_history(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history for a synthetic
    customer-tier change log (initial tier from the customer snapshot,
    then one observation per order) — ``operators/scd.py``: consecutive
    duplicates open no version, each surviving change opens one, the
    open-ended row is current. The sibling of
    ``plans/curation_queries.py:argmax_order_per_segment`` (which keeps
    one row per key; SCD2 keeps them all with validity intervals).

    One shuffle on the key, two in-partition sorts over the same order
    (exchange reused) — no self-join, output <= input rows at any
    scale.
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.scd import (
        scd2_from_changes,
    )

    cust = t(spark, sf, "customer").filter(F.col("c_custkey") < 300)
    orders = t(spark, sf, "orders").filter(F.col("o_custkey") < 300)
    changes = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.col("c_mktsegment").alias("tier"),
        F.lit(0).cast("bigint").alias("seq"),
    ).unionByName(
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderpriority").alias("tier"),
            F.col("o_orderkey").alias("seq"),
        )
    )
    scd = scd2_from_changes(changes, "custkey", "ts", ["tier"], tiebreak="seq")
    return scd.select(
        "custkey", "tier", "valid_from", "valid_to", "is_current"
    )


# ---------------------------------------------------------------------------
# Chi-square distribution-drift detector (early vs late period)
# ---------------------------------------------------------------------------
@register(
    "drift_chi2_events",
    # All arithmetic is libm-free (products, one division, round-6
    # decimal sum), so the chi-square is inside the bit-exact hash
    # contract — the Benford convention. The period split point is
    # integer epoch-microsecond midpoint, identical in both engines.
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
    ),
    tagged AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < (SELECT mid FROM bounds)
                  THEN 'early' ELSE 'late' END AS period
      FROM events
    ),
    cells AS (
      SELECT event_type, period, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM tagged GROUP BY event_type, period
    ),
    scored AS (
      SELECT event_type, period, n_obs,
             CAST(SUM(n_obs) OVER (PARTITION BY event_type) AS DOUBLE)
               * CAST(SUM(n_obs) OVER (PARTITION BY period) AS DOUBLE)
               / CAST(SUM(n_obs) OVER () AS DOUBLE) AS expected
      FROM cells
    ),
    contrib AS (
      SELECT event_type, period, n_obs, ROUND(expected, 6) AS expected,
             ROUND((CAST(n_obs AS DOUBLE) - expected)
                   * (CAST(n_obs AS DOUBLE) - expected) / expected, 6)
               AS chi2_part
      FROM scored
    )
    SELECT event_type, period, n_obs, expected, chi2_part,
           CAST(SUM(CAST(chi2_part AS DECIMAL(18,6))) OVER () AS DOUBLE)
             AS chi2_total
    FROM contrib
    """,
    survey_ids=("B16", "B29", "B33"),
    description="chi-square drift: event-type mix, early vs late half of the time range",
)
def drift_chi2_events(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-drift detection: does the event-type mix differ
    between the early and late halves of the stream? The
    contingency-table chi-square every data-quality monitor runs on
    categorical columns (the log-free sibling of PSI — PSI's ln()
    cannot sit in a bit-exact cross-engine contract).

    The split point is the integer epoch-microsecond midpoint of
    [min ts, max ts] — a two-value global aggregate, not a percentile
    — so both engines tag periods identically. Expected counts are
    row-total x column-total / n (marginal independence); the total is
    the round-6 decimal-sum convention.

    Scale shape: one scan for the bounds (min/max come free from
    parquet footers at scale), one scan + one 10-cell aggregate, and
    window totals over 10 rows. Effectively two scans and a trivial
    reduction at any data size.
    """
    ev = t(spark, sf, "events")
    # Integer floor-division midpoint (matches DuckDB's `//`): stays in
    # exact bigint arithmetic, no double rounding question at all. The
    # cast to TIMESTAMP is the session-UTC identity on the fixture's
    # TIMESTAMP_NTZ column (unix_micros requires TIMESTAMP).
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    b = ev.agg(
        ((F.max(us("ts")) + F.min(us("ts"))) / F.lit(2))
        .cast("long")
        .alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(us("ts") < F.col("mid"), F.lit("early"))
        .otherwise(F.lit("late"))
        .alias("period"),
    )
    cells = tagged.groupBy("event_type", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("period")
    w_all = Window.partitionBy()
    scored = cells.withColumn(
        "expected",
        F.sum("n_obs").over(w_row).cast("double")
        * F.sum("n_obs").over(w_col).cast("double")
        / F.sum("n_obs").over(w_all).cast("double"),
    )
    contrib = scored.select(
        "event_type",
        "period",
        "n_obs",
        F.round("expected", 6).alias("expected"),
        F.round(
            (F.col("n_obs").cast("double") - F.col("expected"))
            * (F.col("n_obs").cast("double") - F.col("expected"))
            / F.col("expected"),
            6,
        ).alias("chi2_part"),
    )
    return contrib.withColumn(
        "chi2_total",
        F.sum(F.col("chi2_part").cast("decimal(18,6)"))
        .over(w_all)
        .cast("double"),
    )


# ---------------------------------------------------------------------------
# C149 rolling exact distinct: trailing-7-day active users per day
# ---------------------------------------------------------------------------
@register(
    "rolling_distinct_users_7d",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT CAST(d.day AS TIMESTAMP) AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
    FROM days d
    JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
    survey_ids=("B20", "B31", "B41"),
    description="Exact trailing-7-day distinct active users per day via bounded contribution explode",
)
def rolling_distinct_users_7d(spark: SparkSession, sf: str) -> DataFrame:
    """Exact rolling distinct: for every observed day, how many
    DISTINCT users were active in the trailing 7 days — the DAU/WAU
    denominator no sliding-window aggregate computes exactly, because
    COUNT(DISTINCT) does not decompose over window frames.

    Shape (100 TB): sliding-distinct is usually approximated (HLL
    merges) or brute-forced with a per-day range self-join that
    re-scans a week of raw events per day. Exact AND linear instead:

    1. dedup to (user, day) — one shuffle keyed by the high-cardinality
       pair, map-side combine;
    2. CONTRIBUTION explode: activity on day d makes the user active
       on windows d..d+6 — a bounded 7x fan-out of the already-
       deduped pairs (independent of event volume per user);
    3. dedup (user, window-day) and count per day — window membership
       itself, not events, is what's counted.

    Every shuffle keys on user-bearing pairs (no skew); the 7x factor
    is the window length, not data size. The observed-day filter is a
    broadcast semi-join (calendar-bounded). The DuckDB oracle keeps
    the textbook day-range join — same answer, different algorithm.
    """
    ev = t(spark, sf, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
    ).distinct()
    return (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("users_7d"))
        # timestamp, not date, purely for the hash compare's type
        # normalization (same convention as funnel_click_purchase_daily)
        .select(F.col("day").cast("timestamp").alias("day"), "users_7d")
    )


# ---------------------------------------------------------------------------
# C166 seasonal-baseline anomaly detection: day-of-week median + MAD
# ---------------------------------------------------------------------------
@register(
    "seasonal_baseline_anomalies",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             dayofweek(CAST(ts AS DATE)) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT dow, MEDIAN(n) AS med FROM daily GROUP BY dow
    ),
    dev AS (
      SELECT d.day, d.dow, d.n, b.med, ABS(d.n - b.med) AS adev
      FROM daily d JOIN base b USING (dow)
    ),
    mad AS (
      SELECT dow, MEDIAN(adev) AS mad FROM dev GROUP BY dow
    )
    SELECT CAST(v.day AS TIMESTAMP) AS day, v.n,
           ROUND(v.med, 6) AS dow_median,
           ROUND(m.mad, 6) AS dow_mad,
           CAST(ABS(v.n - v.med) > 3 * 1.482602218505602 * m.mad AS BOOLEAN)
             AS is_anomaly
    FROM dev v JOIN mad m USING (dow)
    """,
    survey_ids=("B23", "B16", "B33"),
    description="Seasonality-aware anomaly flags: per-day-of-week median + MAD control bands",
)
def seasonal_baseline_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Anomaly detection that respects weekly seasonality: each day's
    event count is compared against ITS day-of-week's median with MAD
    control bands (3 x 1.4826 x MAD ~ 3 sigma for normal data) — the
    robust baseline that a global mean/stddev gets wrong twice
    (weekends drag the mean; one outage inflates the sigma). The MAD
    composition reuses the mad_outliers_events convention (medians via
    the engines' shared linear-interpolation percentile).

    Scale shape: the raw stream reduces to per-day counts in one
    map-side-combined shuffle (calendar-bounded output); everything
    after operates on days x 7 rows. The day-of-week baseline join is
    a broadcast (7 rows).
    """
    ev = t(spark, sf, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.dayofweek(F.to_date("ts")).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    base = daily.groupBy("dow").agg(
        F.expr("percentile(n, 0.5)").alias("med")
    )
    dev = daily.join(F.broadcast(base), "dow").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("dow").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return dev.join(F.broadcast(mad), "dow").select(
        F.col("day").cast("timestamp").alias("day"),
        "n",
        F.round("med", 6).alias("dow_median"),
        F.round("mad", 6).alias("dow_mad"),
        (
            F.abs(F.col("n") - F.col("med"))
            > F.lit(3) * F.lit(1.482602218505602) * F.col("mad")
        ).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# C172 CUSUM change-point detection over the daily series
# ---------------------------------------------------------------------------
@register(
    "cusum_changepoint_daily",
    # CUSUM+ via the window identity: S_t - min_{s<=t} S_s, where
    # S_t = cumsum(x - target). No recursion (Page's textbook
    # recurrence needs one), no libm; target = first-week mean with
    # exact decimal division kept as DOUBLE once at the end.
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    target AS (
      SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu
      FROM (SELECT n FROM daily ORDER BY day LIMIT 7)
    ),
    s AS (
      SELECT day, n,
             SUM(n - mu) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS cs
      FROM daily, target
    ),
    c AS (
      SELECT day, n, ROUND(cs - MIN(cs) OVER (ORDER BY day ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cusum_pos
      FROM s
    )
    SELECT day3 AS day, n, cusum_pos,
           CAST(cusum_pos > 50.0 AS BOOLEAN) AS alarm
    FROM (SELECT CAST(day AS TIMESTAMP) AS day3, n, cusum_pos FROM c)
    """,
    survey_ids=("B29", "B31", "B16"),
    description="CUSUM change-point detection: cumsum-minus-running-min identity, no recursion",
)
def cusum_changepoint_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Page's CUSUM detector over the daily event-count series: flag
    the day a persistent level shift accumulates past threshold h —
    the sequential test that catches slow drifts a per-day 3-sigma
    band never trips on. Page's recurrence C+_t = max(0, C+_{t-1} +
    x_t - mu) is RECURSIVE, which neither SQL windows nor Spark can
    express directly; the identity C+_t = S_t - min_{s<=t}(S_s) with
    S_t = cumsum(x_t - mu) turns it into two ordinary cumulative
    windows over the CALENDAR-BOUNDED daily series (thousands of rows
    at any data scale — the raw stream reduces to it in one
    map-side-combined shuffle, so the 'global window' here is safe by
    cardinality, not by luck). Baseline mu = the first week's mean.
    """
    ev = t(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    first7 = daily.orderBy("day").limit(7)
    target = first7.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mu")
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = daily.crossJoin(F.broadcast(target)).select(
        "day", "n", F.sum(F.col("n") - F.col("mu")).over(w_cum).alias("cs")
    )
    c = s.select(
        "day",
        "n",
        F.round(F.col("cs") - F.min("cs").over(w_cum), 6).alias("cusum_pos"),
    )
    return c.select(
        F.col("day").cast("timestamp").alias("day"),
        "n",
        "cusum_pos",
        (F.col("cusum_pos") > F.lit(50.0)).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# C173 strict-order 3-step funnel with per-step conversion windows
# ---------------------------------------------------------------------------
@register(
    "ordered_funnel_3step",
    oracle="""
    WITH signups AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    clicks AS (
      SELECT s.user_id, s.t1, MIN(e.ts) AS t2
      FROM signups s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'click'
       AND e.ts > s.t1 AND e.ts <= s.t1 + INTERVAL 7 DAY
      GROUP BY s.user_id, s.t1
    ),
    purchases AS (
      SELECT c.user_id, MIN(e.ts) AS t3
      FROM clicks c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 7 DAY
      GROUP BY c.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM signups) AS BIGINT) AS n_step1,
           CAST((SELECT COUNT(*) FROM clicks) AS BIGINT) AS n_step2,
           CAST((SELECT COUNT(*) FROM purchases) AS BIGINT) AS n_step3
    """,
    survey_ids=("B14", "B16", "B29"),
    description="Strict-order signup->click->purchase funnel, 7-day windows per step",
)
def ordered_funnel_3step(spark: SparkSession, sf: str) -> DataFrame:
    """The ordered multi-step funnel: users who signed up, THEN
    clicked within 7 days of the signup, THEN purchased within 7 days
    of that click — strict ordering with per-step conversion windows,
    the shape product analytics calls a 'windowed funnel' (the 2-step
    funnel_click_purchase_daily has no per-step window chain).

    Each step is a user-keyed equi-join + MIN aggregation (earliest
    qualifying event — the standard first-conversion rule), so the
    whole chain is three shuffles on user_id: linear, skew-free, and
    extendable to N steps by composition. Step tables shrink
    monotonically, so later joins get cheaper, not costlier.
    """
    ev = t(spark, sf, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    clicks = (
        signups.join(
            ev.filter(F.col("event_type") == "click").select(
                "user_id", F.col("ts").alias("tc")
            ),
            "user_id",
        )
        .filter(
            (F.col("tc") > F.col("t1"))
            & (F.col("tc") <= F.col("t1") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id", "t1")
        .agg(F.min("tc").alias("t2"))
    )
    purchases = (
        clicks.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("tp")
            ),
            "user_id",
        )
        .filter(
            (F.col("tp") > F.col("t2"))
            & (F.col("tp") <= F.col("t2") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("tp").alias("t3"))
    )
    return (
        signups.agg(F.count(F.lit(1)).cast("bigint").alias("n_step1"))
        .crossJoin(
            F.broadcast(
                clicks.agg(F.count(F.lit(1)).cast("bigint").alias("n_step2"))
            )
        )
        .crossJoin(
            F.broadcast(
                purchases.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_step3")
                )
            )
        )
    )


# ---------------------------------------------------------------------------
# C174 RFM segmentation: recency/frequency/monetary quintile scores
# ---------------------------------------------------------------------------
@register(
    "rfm_segmentation_users",
    # Value-based quintile binning (1 + count of cuts strictly below),
    # NOT NTILE: ties share a score deterministically, and the cut
    # points come from the engines' shared linear-interpolation
    # percentile. Monetary is an exact decimal sum so per-user values
    # — and therefore every cut comparison — are bit-identical.
    oracle="""
    WITH bounds AS (SELECT MAX(ts) AS mx FROM events),
    per_user AS (
      SELECT user_id,
             date_diff('day', CAST(MAX(ts) AS DATE), CAST((SELECT mx FROM bounds) AS DATE)) AS recency,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
      FROM events GROUP BY user_id
    ),
    cuts AS (
      SELECT quantile_cont(recency, [0.2, 0.4, 0.6, 0.8]) AS rc,
             quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fc,
             quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mc
      FROM per_user
    ),
    scored AS (
      SELECT user_id, monetary,
             6 - (1 + len(list_filter(rc, c -> recency > c))) AS r_score,
             1 + len(list_filter(fc, c -> freq > c)) AS f_score,
             1 + len(list_filter(mc, c -> monetary > c)) AS m_score
      FROM per_user, cuts
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(monetary AS DECIMAL(18,6))) AS DOUBLE) AS segment_value
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
    survey_ids=("B16", "B23", "B33"),
    description="RFM segmentation: value-based quintile scores per user, segment rollup",
)
def rfm_segmentation_users(spark: SparkSession, sf: str) -> DataFrame:
    """The marketer's workhorse: score every user 1-5 on Recency
    (days since last event, inverted so recent = 5), Frequency, and
    Monetary value, then roll up the 5x5x5 segment grid — 'champions'
    are (5,5,5), 'at-risk big spenders' are (1-2, *, 4-5), and the
    segment table drives the campaign.

    Binning is VALUE-based (1 + cuts strictly below, quintile cut
    points from the shared interpolated percentile), not NTILE: ties
    share a score — deterministic under any partitioning, where
    NTILE's positional split of ties is not. One user-keyed
    aggregation (linear), one broadcast 1-row cut table, one
    125-cell-bounded rollup. Monetary flows through exact decimal
    sums end to end, so every cut comparison is bit-identical across
    engines.
    """
    ev = t(spark, sf, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    per_user = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.max(F.col("mx")).cast("date"), F.max("ts").cast("date")
            ).alias("recency"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    cuts = per_user.agg(
        F.expr("percentile(recency, array(0.2, 0.4, 0.6, 0.8))").alias("rc"),
        F.expr("percentile(freq, array(0.2, 0.4, 0.6, 0.8))").alias("fc"),
        F.expr("percentile(monetary, array(0.2, 0.4, 0.6, 0.8))").alias("mc"),
    )
    def score(col, cut_col):
        return F.lit(1) + F.size(
            F.filter(F.col(cut_col), lambda c: F.col(col) > c)
        )
    scored = per_user.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        "monetary",
        (F.lit(6) - score("recency", "rc")).alias("r_score"),
        score("freq", "fc").alias("f_score"),
        score("monetary", "mc").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("monetary").cast("decimal(18,6)"))
        .cast("double")
        .alias("segment_value"),
    )


# ---------------------------------------------------------------------------
# Sequential probability ratio test (Wald SPRT): the always-valid
# sequential sibling of ab_test_two_proportion_z
# ---------------------------------------------------------------------------
@register(
    "sprt_sequential_ab",
    # Hash contract (COVERAGE.md's hash-contract audit): the
    # per-observation log ratios and the +/-ln 19 boundaries are
    # PRECOMPUTED double literals (the Benford C139 precedent — no
    # engine libm call at all), the LLR is a fixed two-term sum of
    # exact-integer x literal products, and cum_llr presents as
    # floor(1e6*s).
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)
                  AS BIGINT) AS n
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1
    ),
    cum AS (
      SELECT day,
             SUM(x) OVER w AS cum_x,
             SUM(n) OVER w AS cum_n
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    llr AS (
      SELECT day, CAST(cum_x AS BIGINT) AS cum_x, CAST(cum_n AS BIGINT) AS cum_n,
             cum_x * {_SPRT_L1} + (cum_n - cum_x) * {_SPRT_L0} AS s
      FROM cum
    )
    SELECT CAST(day AS TIMESTAMP) AS day, cum_x, cum_n,
           {floor_e6_sql("s")} AS cum_llr_e6,
           CASE WHEN s >= {_SPRT_BOUND} THEN 'accept_h1'
                WHEN s <= -{_SPRT_BOUND} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr
    """,
    survey_ids=("B31", "B19", "B33"),
    description="Wald SPRT: daily cumulative log-likelihood ratio with accept/continue boundaries",
)
def sprt_sequential_ab(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential A/B testing done right: instead of peeking at a
    fixed-horizon z-test daily (which inflates false positives), the
    Wald SPRT accumulates the log-likelihood ratio for H1: p=0.52 vs
    H0: p=0.48 over the click share of click+view traffic and stops
    the moment a boundary (alpha = beta = 0.05, i.e. +/-ln 19) is
    crossed. Emits the full decision trajectory — the audit trail a
    peeking-safe experimentation platform stores.

    Scale shape: the stream reduces to per-day (x, n) in one map-side
    combined shuffle; the cumulative window runs over the CALENDAR-
    BOUNDED day table. Bernoulli SPRT needs only the two cumulative
    counts, so no per-event state survives the first aggregation.
    """
    ev = t(spark, sf, "events").filter(F.col("event_type").isin("click", "view"))
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("bigint")
        .alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "day",
        F.sum("x").over(w).cast("bigint").alias("cum_x"),
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
    )
    s = F.expr(f"cum_x * {_SPRT_L1} + (cum_n - cum_x) * {_SPRT_L0}")
    bound = F.lit(float(_SPRT_BOUND))
    return cum.select(
        F.col("day").cast("timestamp").alias("day"),
        "cum_x",
        "cum_n",
        floor_e6(s).alias("cum_llr_e6"),
        F.when(s >= bound, F.lit("accept_h1"))
        .when(s <= -bound, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve: cumulative purchase value per user by cohort age
# ---------------------------------------------------------------------------
@register(
    "cohort_ltv_curve",
    # Cohort sizes are exact integers, revenues exact decimal sums,
    # the cumulative is a decimal window sum over the bounded
    # (cohort x age) table; one double division per output cell.
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    cohort_size AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM first_seen GROUP BY cohort_week
    ),
    rev AS (
      SELECT f.cohort_week,
             CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts))
                  AS BIGINT) AS age_weeks,
             SUM(CAST(e.value AS DECIMAL(18,6))) AS wk_rev
      FROM events e
      JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT CAST(r.cohort_week AS TIMESTAMP) AS cohort_week,
           r.age_weeks,
           c.n_users,
           ROUND(CAST(SUM(r.wk_rev) OVER (PARTITION BY r.cohort_week
                      ORDER BY r.age_weeks
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / c.n_users, 6) AS ltv_per_user
    FROM rev r JOIN cohort_size c ON r.cohort_week = c.cohort_week
    """,
    survey_ids=("B31", "B16", "B33"),
    description="Cohort lifetime-value curve: cumulative purchase value per user by cohort age",
)
def cohort_ltv_curve(spark: SparkSession, sf: str) -> DataFrame:
    """The LTV triangle: for each weekly signup cohort, cumulative
    purchase value PER USER at each week of age — the curve growth
    teams extrapolate payback from. weekly_cohort_retention counts who
    comes back; this accumulates what they are worth.

    Scale shape: first-seen reduces the stream to one row per user
    (map-side-combined); revenue joins that on user_id (key-bounded
    shuffle) and reduces to the CALENDAR-BOUNDED (cohort x age) grid;
    the cumulative window runs per cohort over that tiny table, exact
    decimals until the final per-user division.
    """
    ev = t(spark, sf, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    cohort_size = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                    / F.lit(7)
                )
            )
            .cast("bigint")
            .alias("age_weeks"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("wk_rev"))
    )
    w = Window.partitionBy("cohort_week").orderBy("age_weeks").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return rev.join(F.broadcast(cohort_size), "cohort_week").select(
        F.col("cohort_week").cast("timestamp").alias("cohort_week"),
        "age_weeks",
        "n_users",
        F.round(F.sum("wk_rev").over(w).cast("double") / F.col("n_users"), 6)
        .alias("ltv_per_user"),
    )


# ---------------------------------------------------------------------------
# Longest consecutive-day activity streak per user (gaps and islands)
# ---------------------------------------------------------------------------
@register(
    "longest_daily_streak_users",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    isl AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, grp,
             CAST(COUNT(*) AS BIGINT) AS streak_days,
             MIN(day) AS streak_start,
             MAX(day) AS streak_end
      FROM isl GROUP BY 1, 2
    ),
    best AS (
      SELECT user_id, streak_days, streak_start, streak_end,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC, streak_start) AS rn
      FROM streaks
    )
    SELECT user_id, streak_days,
           CAST(streak_start AS TIMESTAMP) AS streak_start,
           CAST(streak_end AS TIMESTAMP) AS streak_end
    FROM best WHERE rn = 1
    ORDER BY streak_days DESC, user_id
    LIMIT 25
    """,
    survey_ids=("B29", "B16", "B24"),
    description="Longest consecutive-day activity streak per user (gaps-and-islands), top-25",
)
def longest_daily_streak_users(spark: SparkSession, sf: str) -> DataFrame:
    """Engagement streaks: each user's longest run of consecutive
    active days, with its start/end — the classic gaps-and-islands
    (day minus dense ordinal is constant within a run).

    Scale shape: the event stream reduces to DISTINCT (user, day) in
    one map-side-combined shuffle; every window after partitions by
    user_id over at-most-calendar-length sequences. The final top-25
    carries a full (streak_days, user_id) total order before LIMIT.
    """
    ev = t(spark, sf, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("grp"),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), "streak_start"
    )
    best = streaks.withColumn("rn", F.row_number().over(wb)).filter(
        F.col("rn") == 1
    )
    return (
        best.select(
            "user_id",
            "streak_days",
            F.col("streak_start").cast("timestamp_ntz").alias("streak_start"),
            F.col("streak_end").cast("timestamp_ntz").alias("streak_end"),
        )
        .orderBy(F.desc("streak_days"), "user_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Point-in-time SCD2 join: each fact sees the dimension version valid
# at its own (timestamp, sequence) moment
# ---------------------------------------------------------------------------
@register(
    "pointintime_scd2_join",
    # Same change log as scd2_customer_history; the PIT lookup is the
    # union+window as-of trick with a COMPOSITE (ts, seq, side) order,
    # so same-day changes resolve deterministically and the version
    # opened BY an event is visible TO it (side 0 sorts before 1).
    oracle="""
    WITH changes AS (
      SELECT c_custkey AS custkey,
             TIMESTAMP '1990-01-01 00:00:00' AS ts,
             c_mktsegment AS tier,
             CAST(0 AS BIGINT) AS seq
      FROM customer WHERE c_custkey < 300
      UNION ALL
      SELECT o_custkey, o_orderdate, o_orderpriority, o_orderkey
      FROM orders WHERE o_custkey < 300
    ),
    marked AS (
      SELECT *, LAG(tier) OVER (PARTITION BY custkey ORDER BY ts, seq) AS prev
      FROM changes
    ),
    vers AS (
      SELECT custkey, ts, seq, tier FROM marked
      WHERE prev IS DISTINCT FROM tier
    ),
    u AS (
      SELECT custkey, ts, seq, 0 AS side, tier,
             CAST(NULL AS BIGINT) AS orderkey
      FROM vers
      UNION ALL
      SELECT o_custkey, o_orderdate, o_orderkey, 1, NULL, o_orderkey
      FROM orders WHERE o_custkey < 300
    ),
    pit AS (
      SELECT custkey, ts, side, orderkey,
             last_value(tier IGNORE NULLS) OVER (
               PARTITION BY custkey ORDER BY ts, seq, side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tier_at
      FROM u
    )
    SELECT orderkey AS o_orderkey, custkey,
           ts AS o_orderdate, tier_at AS tier_at_order
    FROM pit WHERE side = 1
    """,
    survey_ids=("B29", "B30", "B14"),
    description="Point-in-time SCD2 lookup: each order joined to the tier valid at its moment",
)
def pointintime_scd2_join(spark: SparkSession, sf: str) -> DataFrame:
    """THE data-warehouse join: enrich every fact with the dimension
    version that was valid AT the fact's own moment — the consuming
    side of scd2_customer_history (which builds the intervals; this
    reads them). Implemented without interval ranges at all: versions
    and facts union into one stream ordered by the composite
    (ts, seq, side) and a last-non-null window carries the open
    version onto each fact — one shuffle on the key, one sort, no
    range-join pair blowup, and same-timestamp changes resolve by the
    sequence tiebreak instead of undefined interval overlap.
    """
    cust = t(spark, sf, "customer").filter(F.col("c_custkey") < 300)
    orders = t(spark, sf, "orders").filter(F.col("o_custkey") < 300)
    changes = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.col("c_mktsegment").alias("tier"),
        F.lit(0).cast("bigint").alias("seq"),
    ).unionByName(
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderpriority").alias("tier"),
            F.col("o_orderkey").alias("seq"),
        )
    )
    wv = Window.partitionBy("custkey").orderBy("ts", "seq")
    vers = (
        changes.withColumn("prev", F.lag("tier").over(wv))
        .filter(
            ~F.col("prev").eqNullSafe(F.col("tier"))
        )
        .select("custkey", "ts", "seq", "tier")
    )
    u = vers.select(
        "custkey",
        "ts",
        "seq",
        F.lit(0).alias("side"),
        "tier",
        F.lit(None).cast("bigint").alias("orderkey"),
    ).unionByName(
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderkey").alias("seq"),
            F.lit(1).alias("side"),
            F.lit(None).cast("string").alias("tier"),
            F.col("o_orderkey").alias("orderkey"),
        )
    )
    wp = Window.partitionBy("custkey").orderBy("ts", "seq", "side").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pit = u.withColumn(
        "tier_at", F.last("tier", ignorenulls=True).over(wp)
    )
    return pit.filter(F.col("side") == 1).select(
        F.col("orderkey").alias("o_orderkey"),
        "custkey",
        F.col("ts").alias("o_orderdate"),
        F.col("tier_at").alias("tier_at_order"),
    )


# ---------------------------------------------------------------------------
# Exact Shapley-value channel attribution over touched-channel sets
# ---------------------------------------------------------------------------
@register(
    "shapley_channel_attribution",
    # Coalition values are conversion rates from exact integer counts
    # over the 8 possible touched-set coalitions; the Shapley formula
    # over 3 channels is a fixed literal-weight expression evaluated
    # identically in both engines (empty coalitions contribute v=0).
    oracle="""
    WITH ft AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type IN ('view', 'click', 'signup') GROUP BY 1
    ),
    touched AS (
      SELECT e.user_id,
             CAST(MAX(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END)
                  AS INTEGER) AS has_v,
             CAST(MAX(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END)
                  AS INTEGER) AS has_c,
             CAST(MAX(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END)
                  AS INTEGER) AS has_s,
             CAST(MAX(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS INTEGER) AS converted
      FROM events e
      JOIN ft ON ft.user_id = e.user_id
      WHERE e.ts >= ft.t0 AND e.ts < ft.t0 + INTERVAL 3 DAY
        AND e.event_type IN ('view', 'click', 'signup', 'purchase')
      GROUP BY 1
    ),
    coal AS (
      SELECT has_v, has_c, has_s,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM touched GROUP BY 1, 2, 3
    ),
    v AS (
      SELECT
        COALESCE(MAX(CASE WHEN has_v=0 AND has_c=0 AND has_s=0
                     THEN CAST(conv AS DOUBLE)/n END), 0.0) AS v000,
        COALESCE(MAX(CASE WHEN has_v=1 AND has_c=0 AND has_s=0
                     THEN CAST(conv AS DOUBLE)/n END), 0.0) AS v100,
        COALESCE(MAX(CASE WHEN has_v=0 AND has_c=1 AND has_s=0
                     THEN CAST(conv AS DOUBLE)/n END), 0.0) AS v010,
        COALESCE(MAX(CASE WHEN has_v=0 AND has_c=0 AND has_s=1
                     THEN CAST(conv AS DOUBLE)/n END), 0.0) AS v001,
        COALESCE(MAX(CASE WHEN has_v=1 AND has_c=1 AND has_s=0
                     THEN CAST(conv AS DOUBLE)/n END), 0.0) AS v110,
        COALESCE(MAX(CASE WHEN has_v=1 AND has_c=0 AND has_s=1
                     THEN CAST(conv AS DOUBLE)/n END), 0.0) AS v101,
        COALESCE(MAX(CASE WHEN has_v=0 AND has_c=1 AND has_s=1
                     THEN CAST(conv AS DOUBLE)/n END), 0.0) AS v011,
        COALESCE(MAX(CASE WHEN has_v=1 AND has_c=1 AND has_s=1
                     THEN CAST(conv AS DOUBLE)/n END), 0.0) AS v111
      FROM coal
    )
    SELECT 'view' AS channel,
           ROUND((1.0/3.0) * (v100 - v000)
                 + (1.0/6.0) * (v110 - v010)
                 + (1.0/6.0) * (v101 - v001)
                 + (1.0/3.0) * (v111 - v011), 6) AS shapley
    FROM v
    UNION ALL
    SELECT 'click',
           ROUND((1.0/3.0) * (v010 - v000)
                 + (1.0/6.0) * (v110 - v100)
                 + (1.0/6.0) * (v011 - v001)
                 + (1.0/3.0) * (v111 - v101), 6)
    FROM v
    UNION ALL
    SELECT 'signup',
           ROUND((1.0/3.0) * (v001 - v000)
                 + (1.0/6.0) * (v101 - v100)
                 + (1.0/6.0) * (v011 - v010)
                 + (1.0/3.0) * (v111 - v110), 6)
    FROM v
    """,
    survey_ids=("B16", "B19", "B13"),
    description="Exact Shapley credit per marketing channel over touched-set coalitions",
)
def shapley_channel_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Game-theoretic attribution: each channel's Shapley value over
    the coalition game where v(S) is the 3-day conversion rate of
    users who touched EXACTLY the channel set S in the attribution
    window opened by their first touch —
    the fair-division upgrade of last-touch/linear multi-touch (both
    already in the registry), and exact because 3 channels mean only 8
    coalitions.

    Scale shape: one pass reduces the event stream to a per-user
    (touched-set, converted) row, a second to the 8-row coalition
    table; the Shapley formula is a fixed literal-weight expression on
    ONE pivoted row. Nothing after the two map-side-combined shuffles
    depends on data scale.
    """
    ev = t(spark, sf, "events")
    ft = (
        ev.filter(F.col("event_type").isin("view", "click", "signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    touched = (
        ev.filter(
            F.col("event_type").isin("view", "click", "signup", "purchase")
        )
        .join(ft, "user_id")
        .filter(
            (F.col("ts") >= F.col("t0"))
            & (F.col("ts") < F.col("t0") + F.expr("INTERVAL 3 DAY"))
        )
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("int")
            .alias("has_v"),
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("int")
            .alias("has_c"),
            F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
            .cast("int")
            .alias("has_s"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("int")
            .alias("converted"),
        )
    )
    coal = touched.groupBy("has_v", "has_c", "has_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )

    def vcell(hv, hc, hs):
        return F.coalesce(
            F.max(
                F.when(
                    (F.col("has_v") == hv)
                    & (F.col("has_c") == hc)
                    & (F.col("has_s") == hs),
                    F.col("conv").cast("double") / F.col("n"),
                )
            ),
            F.lit(0.0),
        )

    v = coal.agg(
        *[
            vcell(a, b, cc).alias(f"v{a}{b}{cc}")
            for a in (0, 1)
            for b in (0, 1)
            for cc in (0, 1)
        ]
    )
    third, sixth = F.lit(1.0) / F.lit(3.0), F.lit(1.0) / F.lit(6.0)

    def phi(on, off):
        # pairs of (with-channel, without-channel) cell names by |S|
        (a1, b1), (a2, b2), (a3, b3), (a4, b4) = on
        return (
            third * (F.col(a1) - F.col(b1))
            + sixth * (F.col(a2) - F.col(b2))
            + sixth * (F.col(a3) - F.col(b3))
            + third * (F.col(a4) - F.col(b4))
        )

    rows = [
        ("view", [("v100", "v000"), ("v110", "v010"), ("v101", "v001"), ("v111", "v011")]),
        ("click", [("v010", "v000"), ("v110", "v100"), ("v011", "v001"), ("v111", "v101")]),
        ("signup", [("v001", "v000"), ("v101", "v100"), ("v011", "v010"), ("v111", "v110")]),
    ]
    out = None
    for name, pairs in rows:
        r = v.select(
            F.lit(name).alias("channel"),
            F.round(phi(pairs, None), 6).alias("shapley"),
        )
        out = r if out is None else out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# DAU/MAU stickiness via exact trailing-30-day rolling distinct
# ---------------------------------------------------------------------------
@register(
    "dau_mau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
    ),
    mau AS (
      SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
      FROM days d
      JOIN ud u ON u.day BETWEEN d.day - 29 AND d.day
      GROUP BY d.day
    )
    SELECT CAST(d.day AS TIMESTAMP) AS day, a.dau, m.mau,
           ROUND(CAST(a.dau AS DOUBLE) / m.mau, 6) AS stickiness
    FROM days d JOIN dau a ON a.day = d.day JOIN mau m ON m.day = d.day
    """,
    survey_ids=("B20", "B31", "B16"),
    description="DAU/MAU stickiness per day (exact trailing-30d distinct via contribution explode)",
)
def dau_mau_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """The product-health ratio: daily actives over trailing-30-day
    actives — exact, not HLL-approximated. The MAU denominator is the
    rolling_distinct_users_7d machinery at window 30: dedup to
    (user, day), CONTRIBUTION-explode each activity onto the 30
    window-days it supports (bounded 30x fan-out of already-deduped
    pairs), dedup (user, window-day), count per day, and keep only
    observed days. All shuffles key on user-bearing pairs; the window
    length, not the event volume, is the fan-out.
    """
    ev = t(spark, sf, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    ud = ud.persist()
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 29))
        ).alias("day"),
    ).distinct()
    mau = (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("mau"))
    )
    return (
        dau.join(mau, "day")
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "dau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 6)
            .alias("stickiness"),
        )
    )
