"""Temporal-join queries: as-of join (DuckDB native ASOF JOIN oracle)
and bucketed range join (plain range-predicate oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ag_data_ingestion_github_to_snowflake_spark.operators.temporal import (
    asof_join,
    bucketed_lag_pairs,
    bucketed_range_join,
)
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import register, t


@register(
    "asof_join_events",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
    ), views AS (
      SELECT user_id, ts, max(value) AS view_value
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    )
    SELECT p.event_id,
           p.user_id,
           ROUND(p.value, 6) AS purchase_value,
           ROUND(v.view_value, 6) AS last_view_value
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    survey_ids=("B14", "B29", "B31"),
    description="as-of join: latest prior view value per purchase",
)
def asof_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """For each purchase, the user's most recent prior 'view' value.

    Union+window implementation: one shuffle on user_id, one sort —
    no range-condition row blowup (see operators/temporal.py).
    """
    ev = t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    joined = asof_join(purchases, views, on="user_id", right_cols=["view_value"])
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("purchase_value"),
        F.round("view_value", 6).alias("last_view_value"),
    )


@register(
    "asof_join_forward_tolerance",
    # DuckDB ASOF with the inequality flipped picks the nearest
    # FOLLOWING row (ties inclusive, same as the operator); the
    # tolerance is a post-match CASE, never a re-pick — identical to
    # pandas.merge_asof(direction="forward", tolerance=...).
    oracle="""
    WITH views AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view'
    ), purchases AS (
      SELECT user_id, ts, max(value) AS p_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT v.event_id,
           v.user_id,
           ROUND(v.value, 6) AS view_value,
           ROUND(CASE WHEN p.ts <= v.ts + INTERVAL 2 HOUR THEN p.p_value END, 6)
             AS next_purchase_value
    FROM views v
    ASOF LEFT JOIN purchases p
      ON v.user_id = p.user_id AND v.ts <= p.ts
    """,
    survey_ids=("B14", "B29", "B31"),
    description="forward as-of join with 2h tolerance: next purchase after each view",
)
def asof_join_forward_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """For each 'view' event, the user's NEXT 'purchase' value within
    2 hours — the forward-direction, toleranced as-of join (attribution
    windows, sensor lookahead). Same union+window shape as the backward
    query (one shuffle on the key, one sort — the forward direction
    just flips the sort), with the tolerance applied as a post-match
    filter on the carried timestamp, so there is still no
    range-condition row blowup at any scale.
    """
    ev = t(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("p_value"))
    )
    joined = asof_join(
        views,
        purchases,
        on="user_id",
        right_cols=["p_value"],
        direction="forward",
        tolerance="2 hours",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("view_value"),
        F.round("p_value", 6).alias("next_purchase_value"),
    )


@register(
    "range_join_bucketed",
    oracle="""
    WITH sessions AS (
      SELECT user_id,
             time_bucket(INTERVAL '1 hour', ts) AS s_start,
             time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS s_end
      FROM events WHERE event_type = 'signup'
      GROUP BY 1, 2, 3
    )
    SELECT s.user_id, s.s_start, count(*) AS n_events_in_window
    FROM sessions s
    JOIN events e
      ON e.user_id = s.user_id AND e.ts >= s.s_start AND e.ts < s.s_end
    GROUP BY 1, 2
    """,
    survey_ids=("B14", "B46"),
    description="bucketed interval join: events inside signup-hour windows",
)
def range_join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Count each user's events falling in the hour window of any of
    their signups — interval join via time-bucketing."""
    ev = t(spark, sf, "events")
    sessions = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("s_start"),
            (F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR"))
            .cast("timestamp_ntz")
            .alias("s_end"),
        )
        .distinct()
    )
    joined = bucketed_range_join(
        ev, sessions, on="user_id", left_ts="ts", right_start="s_start", right_end="s_end"
    )
    return joined.groupBy("user_id", "s_start").agg(
        F.count("*").alias("n_events_in_window")
    )


@register(
    "scd2_event_type_intervals",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    ch AS (
      SELECT user_id, ts, event_id, event_type
      FROM o WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM ch
    """,
    survey_ids=("B29", "B30", "B32"),
    description="SCD2 build: change-point islands to [valid_from, valid_to) intervals",
)
def scd2_event_type_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 slowly-changing dimension from a change log: collapse
    consecutive equal states per user (gaps-and-islands via LAG), then
    LEAD supplies each island's exclusive end — the standard warehouse
    dimension-build (Kimball SCD2), one shuffle on ``user_id`` for both
    windows since they share partitioning and ordering.
    """
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select("user_id", "ts", "event_id", "event_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w2)
    return ch.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


# ROWS (not RANGE) frame: tied boundary instants accumulate one row at a
# time, so every prefix value is deterministic and a same-instant peak
# is not hidden.
CONCURRENT_INTERVALS_ORACLE = """
    WITH pts AS (
        SELECT event_type, epoch_us(ts) AS t, 1 AS delta FROM events
        UNION ALL
        SELECT event_type,
               epoch_us(ts) + CAST(value AS INT) * 1000000 AS t,
               -1 AS delta
        FROM events
    ),
    runs AS (
        SELECT event_type,
               SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM pts
    )
    SELECT event_type, CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM runs GROUP BY event_type
"""


@register(
    "concurrent_intervals_distributed",
    oracle=CONCURRENT_INTERVALS_ORACLE,
    survey_ids=("B30", "B31"),
    description="Two-level prefix-sum sweep: parallel max-concurrency, no per-group task wall",
)
@register(
    "concurrent_intervals_sweep",
    oracle=CONCURRENT_INTERVALS_ORACLE,
    survey_ids=("B30", "B31"),
    description="sweep-line max-concurrency: +1/-1 boundary points, running sum, max per group",
)
def concurrent_intervals_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """Max concurrent intervals per event type (sweep-line): each event
    spans [ts, ts + value seconds); explode into +1 start / -1 end
    boundary points and take the max running sum in boundary order
    (ends sort before starts at the same instant, so touching intervals
    don't count as overlapping). One window per event type would land
    each type's whole timeline on one task, so parallelism would be
    n_groups (OPTIMIZATION_r15.md, "One plan per answer"); instead
    ``operators/temporal.py:distributed_sweep_max_concurrency`` sums
    day chunks in parallel and prefix-sums the per-chunk totals.
    Epoch-microsecond arithmetic keeps both engines integer-exact.
    """
    ev = t(spark, sf, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("start_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.col("value").cast("int").cast("bigint") * F.lit(1000000)
        ).alias("end_us"),
    )
    pts = ev.select(
        "event_type", F.col("start_us").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        ev.select(
            "event_type", F.col("end_us").alias("t"), F.lit(-1).alias("delta")
        )
    )
    from ag_data_ingestion_github_to_snowflake_spark.operators.temporal import (
        distributed_sweep_max_concurrency,
    )

    return distributed_sweep_max_concurrency(pts)


@register(
    "ewma_events_daily",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               list(value ORDER BY ts, event_id) AS vals
        FROM events
        GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(day AS TIMESTAMP) AS day,
           CAST(len(vals) AS BIGINT) AS n,
           list_reduce(vals, (acc, x) -> 0.25 * x + 0.75 * acc) AS ewma
    FROM seq
    """,
    survey_ids=("B31", "B33"),
    description="exact per-(type,day) EWMA: ordered fold, alpha=0.25 (binary fraction, IEEE-exact cross-engine)",
)
def ewma_events_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average per (event_type, day):
    s_i = 0.25*v_i + 0.75*s_{i-1}, seeded with the first value in
    (ts, event_id) order. EWMA is inherently sequential, so it runs as
    an ordered fold (``F.aggregate`` over a sorted collect_list) —
    alpha=0.25 is an exact binary fraction, and DuckDB's
    ``list_reduce`` replays the identical left fold, so the doubles
    match bit-for-bit (the same replay technique as the rolling
    fingerprint carrier).

    Scale shape: state is one shuffle row per (type, day) group — the
    DAY key bounds the fold length by design; an unbounded per-key
    EWMA over years of events would instead chunk by calendar window
    and chain the carried state across chunks.
    """
    ev = t(spark, sf, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.struct("ts", "event_id", "value").alias("s"),
    )
    seq = ev.groupBy("event_type", "day").agg(
        F.transform(
            F.array_sort(F.collect_list("s")), lambda s: s["value"]
        ).alias("vals")
    )
    fold = F.aggregate(
        F.slice(F.col("vals"), 2, F.size(F.col("vals"))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc,
    )
    return seq.select(
        "event_type",
        # DATE hashes differently across engines; emit midnight TIMESTAMP
        F.col("day").cast("timestamp_ntz").alias("day"),
        F.size("vals").cast("bigint").alias("n"),
        fold.alias("ewma"),
    )


# Native corr() accumulates doubles in aggregation order; both sides
# compute the five moments over the lag-paired series as EXACT decimal
# sums and assemble Pearson r in scalar double math (the
# stats_corr_quantity_price convention).
AUTOCORRELATION_LAG1_ORACLE = """
    WITH lagged AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,6)) AS y,
             LAG(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS yprev
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(yprev) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(yprev * yprev) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(yprev * y) AS DOUBLE) AS sxy
      FROM lagged WHERE yprev IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_pairs,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS autocorr_lag1
    FROM m
"""


@register(
    "autocorrelation_lag1_distributed",
    oracle=AUTOCORRELATION_LAG1_ORACLE,
    survey_ids=("B30", "B23", "B16"),
    description="Lag-1 autocorrelation via day-bucketed parallel lag (window-wall-free twin)",
)
@register(
    "autocorrelation_lag1_events",
    oracle=AUTOCORRELATION_LAG1_ORACLE,
    survey_ids=("B30", "B23", "B16"),
    description="Lag-1 autocorrelation of event values per type (exact-moment Pearson)",
)
def autocorrelation_lag1_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """Serial correlation of the per-type event-value series — the
    time-series diagnostic behind seasonality/trend checks. A LAG
    window per type would cap parallelism at the type cardinality (5
    here; OPTIMIZATION_r15.md, "One plan per answer"), so the lag pairs
    are built within (type, day) buckets in parallel and the one pair
    each day boundary severs is restored from a tiny per-bucket
    first/last table (``operators/temporal.py:bucketed_lag_pairs``).
    The moments are exact decimal sums, so the assembled r is
    engine-identical."""
    ev = t(spark, sf, "events")
    pairs = bucketed_lag_pairs(
        ev.select(
            "event_type", "ts", "event_id",
            F.col("value").cast("decimal(18,6)").alias("yv"),
        ),
        group_col="event_type",
        order_cols=["ts", "event_id"],
        value_col="yv",
        bucket_expr=F.date_trunc("day", F.col("ts")),
    )
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("yprev").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("yprev") * F.col("yprev")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("yprev") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("autocorr_lag1"),
    )


# ---------------------------------------------------------------------------
# C150 last-touch attribution: purchases credited to the nearest prior
# click/view within a 3-day lookback, revenue rolled up per channel
# ---------------------------------------------------------------------------
@register(
    "last_touch_attribution",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts, MAX(event_type) AS channel
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY user_id, ts
    ),
    attributed AS (
      SELECT COALESCE(
               CASE WHEN t.ts >= p.ts - INTERVAL 3 DAY THEN t.channel END,
               'direct') AS channel,
             p.value
      FROM purchases p
      ASOF LEFT JOIN touches t
        ON p.user_id = t.user_id AND p.ts >= t.ts
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(value), 6) AS revenue
    FROM attributed
    GROUP BY channel
    """,
    survey_ids=("B14", "B16", "B29"),
    description="Last-touch channel attribution: as-of join with 3-day lookback, revenue per channel",
)
def last_touch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Marketing attribution: each purchase is credited to the SAME
    user's most recent prior click or view; matches older than 3 days
    (or users with no prior touch) fall to 'direct'. The classic
    warehouse query that goes quadratic when written as a range self-
    join — here it reuses ``operators/temporal.py:asof_join``
    (union + one user-keyed sort, tolerance filters rather than
    re-picks), so the event stream shuffles exactly once.

    Ties at identical (user, ts): touches pre-aggregate to one row
    (MAX(event_type) — 'view' over 'click', deterministic in both
    engines); equal-timestamp touch-vs-purchase matches inclusively,
    DuckDB ASOF semantics.
    """
    ev = t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    touches = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("channel"))
    )
    joined = asof_join(
        purchases, touches, on="user_id", right_cols=["channel"],
        tolerance="3 days",
    )
    return (
        joined.select(
            F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(F.sum("value"), 6).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# C158 multi-touch (linear) attribution: credit split across every
# touch in the lookback
# ---------------------------------------------------------------------------
@register(
    "multi_touch_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS pid, user_id, ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts AS tts, event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ),
    pairs AS (
      SELECT p.pid, p.value, t.channel
      FROM purchases p
      JOIN touches t
        ON p.user_id = t.user_id
       AND t.tts <= p.ts AND t.tts >= p.ts - INTERVAL 3 DAY
    ),
    credited AS (
      SELECT channel,
             CAST(value / (COUNT(*) OVER (PARTITION BY pid)) AS DECIMAL(18,6))
               AS credit,
             pid
      FROM pairs
      UNION ALL
      SELECT 'direct', CAST(p.value AS DECIMAL(18,6)), p.pid
      FROM purchases p
      WHERE NOT EXISTS (SELECT 1 FROM pairs x WHERE x.pid = p.pid)
    )
    SELECT channel,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases,
           CAST(SUM(credit) AS DOUBLE) AS revenue
    FROM credited
    GROUP BY channel
    """,
    survey_ids=("B14", "B16", "B29"),
    description="Linear multi-touch attribution: each purchase's value split equally over its 3-day touches",
)
def multi_touch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Linear-credit attribution — the fairness-over-recency sibling
    of ``last_touch_attribution``: every click/view by the same user
    in the 3 days before a purchase gets an equal share of its value;
    untouched purchases stay 'direct'.

    Plan: one user-keyed equi-join with the time-range predicate
    applied as a join filter — per-user pairs are bounded by per-user
    activity (uniform here; a salted variant would handle whale
    users), so the pair volume is linear in events for bounded
    per-user lookback density. Credit = value / touches-per-purchase
    via one purchase-keyed window; decimal accumulators on the credit
    sums keep the hash bit-exact (the CDC lesson).
    """
    ev = t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", F.col("ts").alias("tts"), F.col("event_type").alias("channel")
    )
    pairs = purchases.join(touches, "user_id").filter(
        (F.col("tts") <= F.col("ts"))
        & (F.col("tts") >= F.col("ts") - F.expr("INTERVAL 3 DAYS"))
    )
    w_p = Window.partitionBy("pid")
    credited = pairs.select(
        "pid",
        "channel",
        (F.col("value") / F.count(F.lit(1)).over(w_p))
        .cast("decimal(18,6)")
        .alias("credit"),
    )
    direct = purchases.join(
        credited.select("pid").distinct(), "pid", "left_anti"
    ).select(
        "pid",
        F.lit("direct").alias("channel"),
        F.col("value").cast("decimal(18,6)").alias("credit"),
    )
    return (
        credited.unionByName(direct)
        .groupBy("channel")
        .agg(
            F.countDistinct("pid").cast("bigint").alias("n_purchases"),
            F.sum("credit").cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# C162 OHLC resample: first/last/min/max per bucket without a sort
# ---------------------------------------------------------------------------
@register(
    "ohlc_resample_events",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           ROUND(arg_min(value, ts), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(arg_max(value, ts), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    survey_ids=("B46", "B16", "B33"),
    description="OHLC downsample: per-day open/high/low/close via min_by/max_by, no sort",
)
def ohlc_resample_events(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series downsampling to daily OHLC bars (open = first value
    by timestamp, close = last) — the resample every metrics store
    runs, expressed as ONE aggregation: ``min_by``/``max_by`` over the
    timestamp replace the per-bucket ORDER BY window (which would sort
    every bucket's rows; the aggregate form is a mergeable partial —
    each partition keeps one candidate per bucket).

    Tie note: the fixture's (event_type='purchase', ts) pairs are
    unique, so arg_min/arg_max are deterministic; data with duplicate
    timestamps per bucket would need a composite order key, same as
    any engine's first/last.
    """
    ev = t(spark, sf, "events").filter(F.col("event_type") == "purchase")
    return (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 day")["start"]
            .cast("timestamp_ntz")
            .alias("day")
        )
        .agg(
            F.round(F.min_by("value", "ts"), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", "ts"), 6).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# C179 time-weighted average (TWAP) with a TWO-LEVEL LEAD — the
# window-wall fix family extended from prefix sums to lead/lag
# ---------------------------------------------------------------------------
@register(
    "twap_daily_value",
    # Convention (both engines): each event's value holds until the
    # next event that day; the day's last event contributes 0 weight.
    # Durations are exact integer microseconds and values flow through
    # exact decimals, so the weighted mean is bit-exact.
    oracle="""
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS day, ts, event_id, value FROM events
    ),
    d AS (
      SELECT day, value,
             epoch_us(LEAD(ts) OVER (PARTITION BY day
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS dur
      FROM ev
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(COALESCE(dur, 0)) AS BIGINT) AS covered_us,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)) * COALESCE(dur, 0))
                      AS DOUBLE)
                 / CAST(SUM(COALESCE(dur, 0)) AS DOUBLE), 6) AS twap
    FROM d GROUP BY day
    """,
    survey_ids=("B30", "B31", "B16"),
    description="Daily TWAP via two-level lead: in-bucket lead + next-bucket-first join, no per-day sort wall",
)
def twap_daily_value(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average value per day — the metric that is right
    when observations arrive unevenly (a price quoted for 6 hours must
    outweigh one quoted for 6 seconds; the plain AVG treats them
    equally). Each value persists until the day's next event
    (last event weights 0; the oracle shares the convention).

    The naive plan is LEAD over (PARTITION BY day ORDER BY ts): with
    ~30 day-partitions and data-scale rows per day, each day's full
    series sorts in ONE task — the C89 window wall, now for a
    NAVIGATION function where the prefix-sum fix doesn't apply
    directly. TWO-LEVEL LEAD instead:

    1. bucket rows by (day, hour-of-ts); in-bucket LEAD runs windows
       partitioned by (day, bucket) — parallel across day x 24;
    2. a per-(day, bucket) FIRST-EVENT table (tiny) takes its own
       LEAD over buckets within the day, giving every bucket its
       successor bucket's first timestamp;
    3. bucket-LAST rows (in-bucket LEAD null) take that carry-in as
       their duration end — exactly the row the naive LEAD would have
       paired them with, because bucketing by the ORDER KEY makes
       bucket-major order a refinement of the day order.

    Empty buckets cost nothing (only non-empty buckets appear in the
    first-event table, and LEAD there skips gaps by construction).
    Durations stay exact integer microseconds; decimal value sums make
    the weighted mean bit-exact.
    """
    ev = t(spark, sf, "events").select(
        F.to_date("ts").alias("day"),
        F.col("ts"),
        "event_id",
        "value",
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = ev.withColumn("bkt", F.hour("ts"))
    w_in = Window.partitionBy("day", "bkt").orderBy("ts", "event_id")
    # step 2: per-bucket first timestamp, then its successor within day
    firsts = b.groupBy("day", "bkt").agg(F.min(F.struct("ts", "event_id")).alias("f"))
    w_bkts = Window.partitionBy("day").orderBy("bkt")
    nxt = firsts.select(
        "day",
        "bkt",
        F.lead(F.col("f.ts")).over(w_bkts).alias("next_bucket_ts"),
    )
    d = (
        b.withColumn("lead_ts", F.lead("ts").over(w_in))
        .join(nxt, ["day", "bkt"])
        .withColumn(
            "end_ts", F.coalesce(F.col("lead_ts"), F.col("next_bucket_ts"))
        )
        .withColumn(
            "dur",
            F.coalesce(
                F.unix_micros(F.col("end_ts").cast("timestamp")) - us,
                F.lit(0),
            ),
        )
    )
    return d.groupBy(F.col("day").cast("timestamp").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("dur").cast("bigint").alias("covered_us"),
        # numerator/denominator are EXACT (decimal sum / bigint sum);
        # the one division runs in DOUBLE on both engines (Spark's
        # decimal division truncates to scale 6, DuckDB's promotes —
        # same inputs, different scales), then round-6.
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("dur"))
            .cast("double")
            / F.sum("dur").cast("double"),
            6,
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Volume-weighted average price, daily + cumulative (VWAP): the
# volume-weighted sibling of twap_daily_value
# ---------------------------------------------------------------------------
@register(
    "vwap_cumulative_daily",
    # Numerators/denominators are exact decimal/integer-valued sums
    # (l_quantity is integer-valued, l_extendedprice cent-valued), so
    # the cumulative ratios divide exact inputs; one double division +
    # round-6 per output row.
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      GROUP BY 1
    )
    SELECT CAST(day AS TIMESTAMP) AS day, n_items,
           ROUND(CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE), 6) AS vwap_day,
           ROUND(
             CAST(SUM(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(qty) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS DOUBLE),
           6) AS vwap_cum
    FROM daily
    """,
    survey_ids=("B31", "B16", "B33"),
    description="Daily + running volume-weighted average price (exact decimal cumsums)",
)
def vwap_cumulative_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Daily VWAP (revenue per unit shipped) and its running
    since-period-start cumulative — the pair a pricing dashboard
    plots together. twap_daily_value weights by TIME; this weights by
    VOLUME, the other half of the resampling family.

    Scale shape: the fact table reduces to per-day sums in one
    map-side-combined shuffle; the cumulative window then runs over
    the CALENDAR-BOUNDED day table (the seasonal_baseline exemption —
    ~2.5k rows for the fixture's horizon), never over data-scale rows.
    Both cumulative sums stay exact decimals until the final division.
    """
    li = t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    daily = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("day").cast("timestamp").alias("day"),
        "n_items",
        F.round(F.col("rev").cast("double") / F.col("qty").cast("double"), 6)
        .alias("vwap_day"),
        F.round(
            F.sum("rev").over(w).cast("double") / F.sum("qty").over(w).cast("double"),
            6,
        ).alias("vwap_cum"),
    )


# ---------------------------------------------------------------------------
# Expanding-window backtest: walk-forward evaluation of three
# forecasting baselines over the monthly revenue series
# ---------------------------------------------------------------------------
@register(
    "expanding_holdout_backtest",
    # Monthly revenues are exact decimal sums; the expanding mean is an
    # exact decimal cumsum divided by an integer count; naive and
    # seasonal predictions are lags of exact values. All ratios/diffs
    # are single double ops over identical inputs.
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', l_shipdate) AS month,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem GROUP BY 1
    ),
    feat AS (
      SELECT month, rev,
             LAG(rev) OVER w AS p_naive,
             LAG(rev, 12) OVER w AS p_seasonal,
             CAST(SUM(rev) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS DOUBLE)
               / (COUNT(*) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING)) AS p_mean
      FROM monthly
      WINDOW w AS (ORDER BY month)
    )
    SELECT CAST(month AS TIMESTAMP) AS month,
           CAST(rev AS DOUBLE) AS actual,
           ROUND(CAST(p_naive AS DOUBLE), 6) AS pred_naive,
           ROUND(p_mean, 6) AS pred_mean,
           ROUND(CAST(p_seasonal AS DOUBLE), 6) AS pred_seasonal,
           ROUND(ABS(CAST(rev - p_naive AS DOUBLE)), 6) AS abs_err_naive,
           ROUND(ABS(CAST(rev AS DOUBLE) - p_mean), 6) AS abs_err_mean,
           ROUND(ABS(CAST(rev - p_seasonal AS DOUBLE)), 6) AS abs_err_seasonal
    FROM feat
    WHERE p_seasonal IS NOT NULL
    """,
    survey_ids=("B30", "B31", "B16"),
    description="Walk-forward backtest: naive / expanding-mean / seasonal-naive forecasts with per-month errors",
)
def expanding_holdout_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """Walk-forward (expanding-window) backtest of three forecasting
    baselines over monthly revenue: last-month naive, expanding mean
    of ALL prior months, and seasonal-naive (same month last year) —
    each month is predicted using only data strictly before it, the
    evaluation protocol every production forecaster is graded by
    (regr_trend_monthly_revenue fits one line to everything; this
    measures honest out-of-sample error month by month).

    Scale shape: the fact table reduces to the CALENDAR-BOUNDED
    monthly series in one map-side-combined shuffle; all lags and the
    expanding mean run over that ~84-row table. The expanding mean
    stays an exact decimal cumsum / integer count until the final
    double presentation.
    """
    li = t(spark, sf, "lineitem")
    monthly = li.groupBy(F.date_trunc("month", "l_shipdate").alias("month")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy("month")
    w_prev = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, -1)
    feat = monthly.select(
        "month",
        "rev",
        F.lag("rev").over(w).alias("p_naive"),
        F.lag("rev", 12).over(w).alias("p_seasonal"),
        (
            F.sum("rev").over(w_prev).cast("double")
            / F.count(F.lit(1)).over(w_prev)
        ).alias("p_mean"),
    )
    return feat.filter(F.col("p_seasonal").isNotNull()).select(
        F.col("month").cast("timestamp").alias("month"),
        F.col("rev").cast("double").alias("actual"),
        F.round(F.col("p_naive").cast("double"), 6).alias("pred_naive"),
        F.round(F.col("p_mean"), 6).alias("pred_mean"),
        F.round(F.col("p_seasonal").cast("double"), 6).alias("pred_seasonal"),
        F.round(F.abs((F.col("rev") - F.col("p_naive")).cast("double")), 6)
        .alias("abs_err_naive"),
        F.round(F.abs(F.col("rev").cast("double") - F.col("p_mean")), 6)
        .alias("abs_err_mean"),
        F.round(F.abs((F.col("rev") - F.col("p_seasonal")).cast("double")), 6)
        .alias("abs_err_seasonal"),
    )


# ---------------------------------------------------------------------------
# CEP funnel match (batch): first view -> click -> purchase chain per
# user; the streaming stateful twin (streaming_cep_funnel) shares this
# oracle verbatim
# ---------------------------------------------------------------------------
CEP_FUNNEL_ORACLE = """
    WITH p AS (SELECT user_id, ts AS tp FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts AS tc FROM events WHERE event_type = 'click'),
    v AS (SELECT user_id, ts AS tv FROM events WHERE event_type = 'view'),
    pc AS (
      SELECT p.user_id, p.tp, MAX(c.tc) AS tc
      FROM p JOIN c ON c.user_id = p.user_id AND c.tc <= p.tp
      GROUP BY 1, 2
    ),
    pcv AS (
      SELECT pc.user_id, pc.tp, pc.tc, MAX(v.tv) AS tv
      FROM pc JOIN v ON v.user_id = pc.user_id AND v.tv <= pc.tc
      GROUP BY 1, 2, 3
    ),
    q AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY tp, tc, tv) AS rn
      FROM pcv WHERE tp - tv <= INTERVAL 7 DAY
    )
    SELECT user_id, tv, tc, tp FROM q WHERE rn = 1
"""


@register(
    "cep_funnel_first_match",
    oracle=CEP_FUNNEL_ORACLE,
    survey_ids=("B14", "B30", "B32"),
    description="CEP pattern match: first view->click->purchase chain per user (as-of composition)",
)
def cep_funnel_first_match(spark: SparkSession, sf: str) -> DataFrame:
    """MATCH_RECOGNIZE-style pattern detection as a batch query: for
    each user, the FIRST purchase whose latest preceding click had a
    preceding view, with view->purchase inside a 7-day window —
    emitting the full (view, click, purchase) timestamp chain, not
    just a count (ordered_funnel_3step counts stage survivors; this
    RETURNS the matched instances, which is what attribution and
    debugging need).

    Scale shape: two chained AS-OF joins (union+window trick — one
    shuffle + one sort each, no range-join pair blowup; the oracle's
    MAX-join formulation materializes |p|x|clicks-per-user| pairs,
    exactly the cost this composition avoids), then a per-user
    first-match window over the matched purchases only.
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.temporal import (
        asof_join,
    )

    ev = t(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("tp")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("ts").alias("tc"))
        .select("user_id", "ts", "tc")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("ts").alias("tv"))
        .select("user_id", "ts", "tv")
    )
    pc = asof_join(p, c, on="user_id", left_ts="tp", right_ts="ts", right_cols=["tc"])
    pcv = asof_join(
        pc.filter(F.col("tc").isNotNull()),
        v,
        on="user_id",
        left_ts="tc",
        right_ts="ts",
        right_cols=["tv"],
    )
    q = pcv.filter(
        F.col("tv").isNotNull()
        & (F.col("tp") <= F.col("tv") + F.expr("INTERVAL 7 DAY"))
    )
    w = Window.partitionBy("user_id").orderBy("tp", "tc", "tv")
    return (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "tv", "tc", "tp")
    )


# ---------------------------------------------------------------------------
# Finance/time-series family (r10): drawdown, CAPM beta, Brown's double
# exponential smoothing, nearest-direction as-of join.
# ---------------------------------------------------------------------------
@register(
    "max_drawdown_daily",
    # Daily sums are exact decimals; the running peak is a MAX window
    # (order-independent), and every drawdown difference is an exact
    # decimal subtraction — the hash sees no float accumulation at all.
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2
    ),
    dd AS (
      SELECT event_type, day, v,
             MAX(v) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak
      FROM daily
    ),
    r AS (
      SELECT event_type, day, v, peak, peak - v AS drawdown,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY peak - v DESC, day) AS rn
      FROM dd
    )
    SELECT event_type,
           CAST((SELECT COUNT(*) FROM daily d2
                 WHERE d2.event_type = r.event_type) AS BIGINT) AS n_days,
           CAST(peak AS DOUBLE) AS peak_value,
           CAST(v AS DOUBLE) AS trough_value,
           CAST(drawdown AS DOUBLE) AS max_drawdown,
           CAST(day AS TIMESTAMP) AS trough_day
    FROM r WHERE rn = 1
    """,
    survey_ids=("B31", "B29", "B16"),
    description="Max drawdown of the per-type daily-value series (exact running peak)",
)
def max_drawdown_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum drawdown per event_type: the deepest drop of the daily
    value series below its running peak — the risk metric every
    portfolio/KPI dashboard pairs with the VWAP/TWAP family.

    Scale shape: the fact stream reduces to one row per (type, day) in
    a single map-side-combined shuffle; the running-peak window and the
    argmax both run over the CALENDAR-BOUNDED daily table partitioned
    by type (the seasonal_baseline exemption), never over data-scale
    rows. All comparisons are on exact decimals, so peak/trough
    selection is engine-identical with no float ordering hazard.
    """
    ev = t(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    w_peak = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = daily.select(
        "event_type",
        "day",
        "v",
        F.max("v").over(w_peak).alias("peak"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n_days"),
    ).withColumn("drawdown", F.col("peak") - F.col("v"))
    w_rank = Window.partitionBy("event_type").orderBy(F.desc("drawdown"), "day")
    return (
        dd.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("peak").cast("double").alias("peak_value"),
            F.col("v").cast("double").alias("trough_value"),
            F.col("drawdown").cast("double").alias("max_drawdown"),
            F.col("day").cast("timestamp_ntz").alias("trough_day"),
        )
    )


@register(
    "capm_beta_by_type",
    # Five cross-moments of the (type-daily, market-daily) pairs are
    # exact decimal sums. Both engines store the daily totals at the
    # SAME precision, DECIMAL(18,6), so overflow headroom is identical
    # (both saturate at a 10^12 daily total — ~10^10 events/day at the
    # fixture's value range; far past any realistic SF). Products stay
    # exact at scale 12 in both: Spark multiplies (18,6)x(18,6) ->
    # (37,12); DuckDB would multiply DECIMAL(18)s in int64 and
    # overflow-check, so the oracle widens ONE factor to DECIMAL(19,6)
    # at multiply time to route through hugeint — a lossless cast, not
    # extra headroom. beta/alpha/r are assembled in scalar double math
    # over those exact inputs and rounded — the stats_corr convention.
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2
    ),
    market AS (
      SELECT day, CAST(SUM(v) AS DECIMAL(18,6)) AS m FROM daily GROUP BY 1
    ),
    dn AS (
      SELECT event_type, day, CAST(v AS DECIMAL(18,6)) AS v FROM daily
    ),
    mom AS (
      SELECT d.event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(mk.m) AS DOUBLE) AS sx,
             CAST(SUM(d.v) AS DOUBLE) AS sy,
             CAST(SUM(CAST(mk.m AS DECIMAL(19,6)) * mk.m) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(d.v AS DECIMAL(19,6)) * d.v) AS DOUBLE) AS syy,
             CAST(SUM(CAST(mk.m AS DECIMAL(19,6)) * d.v) AS DOUBLE) AS sxy
      FROM dn d JOIN market mk ON d.day = mk.day
      GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
           ROUND(sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx / n, 6)
             AS alpha,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS corr_mkt
    FROM mom
    """,
    survey_ids=("B16", "B10", "B23"),
    description="CAPM-style beta/alpha of each event type's daily series vs the market total",
)
def capm_beta_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Beta of each event type's daily value series against the
    market (the all-types daily total): OLS slope, intercept, and
    correlation from exact cross-moments — the classic single-factor
    exposure decomposition.

    Scale shape: ONE map-side-combined shuffle reduces the stream to
    (type, day) rows; the market series is a second aggregation of
    that small daily table, broadcast back onto it (days are calendar-
    bounded). Moments per type are exact decimal sums, so partial-
    aggregation order cannot move the hash.
    """
    ev = t(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    market = daily.groupBy("day").agg(
        F.sum("v").cast("decimal(18,6)").alias("m")
    )
    j = daily.withColumn("v", F.col("v").cast("decimal(18,6)")).join(
        F.broadcast(market), "day"
    )
    mom = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("m").cast("double").alias("sx"),
        F.sum("v").cast("double").alias("sy"),
        F.sum(F.col("m") * F.col("m")).cast("double").alias("sxx"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("syy"),
        F.sum(F.col("m") * F.col("v")).cast("double").alias("sxy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(beta, 6).alias("beta"),
        F.round(F.col("sy") / F.col("n") - beta * F.col("sx") / F.col("n"), 6)
        .alias("alpha"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("corr_mkt"),
    )


@register(
    "double_ewma_forecast",
    # Both engines replay the IDENTICAL left fold over the day-ordered
    # series with a two-field {s2, s1} accumulator (alpha=0.25, a binary
    # fraction), so the doubles match bit-for-bit. DuckDB 1.0's
    # list_reduce materializes struct fields sequentially INTO the
    # accumulator, so the field that reads the other field's OLD value
    # (s2 reads acc.s1) must be declared FIRST — with {s1, s2} order the
    # s2 expression would see the already-updated s1 (verified
    # empirically; the {s2, s1} order is correct under both sequential-
    # and snapshot-evaluation semantics).
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, list(v ORDER BY day) AS vals
      FROM daily GROUP BY 1
    ),
    folded AS (
      SELECT event_type,
             CAST(len(vals) AS BIGINT) AS n_days,
             list_reduce(
               list_transform(vals, x -> {s2: x, s1: x}),
               (acc, e) -> {
                 s2: 0.25 * (0.25 * e.s1 + 0.75 * acc.s1) + 0.75 * acc.s2,
                 s1: 0.25 * e.s1 + 0.75 * acc.s1
               }) AS st
      FROM seq
    )
    SELECT event_type, n_days,
           ROUND(st.s1, 6) AS s1,
           ROUND(st.s2, 6) AS s2,
           ROUND(2 * st.s1 - st.s2, 6) AS level,
           ROUND((st.s1 - st.s2) / 3.0, 6) AS trend,
           ROUND((2 * st.s1 - st.s2) + (st.s1 - st.s2) / 3.0, 6)
             AS forecast_next
    FROM folded
    """,
    survey_ids=("B31", "B51", "B43"),
    description="Brown's double exponential smoothing per type (coupled ordered fold, alpha=0.25)",
)
def double_ewma_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Brown's linear (double) exponential smoothing of the per-type
    daily value series: s1 = EWMA(y), s2 = EWMA(s1), level = 2*s1-s2,
    trend = (alpha/(1-alpha))*(s1-s2), one-step forecast = level +
    trend. The trend-aware upgrade of ewma_events_daily — the coupled
    recursion cannot be split into two independent passes without
    materializing the intermediate s1 SERIES, so both smoothers advance
    together in ONE ordered fold with a two-field struct accumulator.

    Scale shape: identical to ewma_events_daily — the fold length is
    bounded by the CALENDAR (one element per type-day after one
    map-side-combined shuffle), never by data scale; an unbounded
    horizon would chunk by window and chain the carried (s1, s2) state.
    """
    ev = t(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("v")
    )
    seq = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "v"))), lambda s: s["v"]
        ).alias("vals")
    )
    y0 = F.element_at(F.col("vals"), 1)

    def step(acc, x):
        s1n = F.lit(0.25) * x + F.lit(0.75) * acc["s1"]
        return F.struct(
            (F.lit(0.25) * s1n + F.lit(0.75) * acc["s2"]).alias("s2"),
            s1n.alias("s1"),
        )

    st = F.aggregate(
        F.slice(F.col("vals"), 2, F.size(F.col("vals"))),
        F.struct(y0.alias("s2"), y0.alias("s1")),
        step,
    )
    folded = seq.select(
        "event_type",
        F.size("vals").cast("bigint").alias("n_days"),
        st.alias("st"),
    )
    s1, s2 = F.col("st.s1"), F.col("st.s2")
    return folded.select(
        "event_type",
        "n_days",
        F.round(s1, 6).alias("s1"),
        F.round(s2, 6).alias("s2"),
        F.round(F.lit(2) * s1 - s2, 6).alias("level"),
        F.round((s1 - s2) / F.lit(3.0), 6).alias("trend"),
        F.round((F.lit(2) * s1 - s2) + (s1 - s2) / F.lit(3.0), 6)
        .alias("forecast_next"),
    )


@register(
    "asof_join_nearest",
    # Two DuckDB ASOF joins (backward + forward) and a deterministic
    # arbitration: smaller absolute gap wins, exact tie -> backward.
    # The 1-hour tolerance is a post-match CASE (voids, never re-picks)
    # on BOTH sides, mirroring pandas.merge_asof(direction='nearest',
    # tolerance=...). Gaps are exact integer epoch-microsecond differences
    # (millisecond rounding differs between epoch_ms and timestampdiff).
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    ), views AS (
      SELECT user_id, ts, max(value) AS view_value
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    ),
    b AS (
      SELECT p.event_id, p.user_id, p.ts, p.value,
             CASE WHEN v.ts >= p.ts - INTERVAL 1 HOUR
                  THEN v.view_value END AS bv,
             CASE WHEN v.ts >= p.ts - INTERVAL 1 HOUR
                  THEN epoch_us(p.ts) - epoch_us(v.ts) END AS bgap
      FROM purchases p
      ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
    ),
    f AS (
      SELECT p.event_id,
             CASE WHEN v.ts <= p.ts + INTERVAL 1 HOUR
                  THEN v.view_value END AS fv,
             CASE WHEN v.ts <= p.ts + INTERVAL 1 HOUR
                  THEN epoch_us(v.ts) - epoch_us(p.ts) END AS fgap
      FROM purchases p
      ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts <= v.ts
    )
    SELECT b.event_id, b.user_id,
           ROUND(b.value, 6) AS purchase_value,
           ROUND(CASE
             WHEN b.bv IS NOT NULL AND (f.fv IS NULL OR b.bgap <= f.fgap)
               THEN b.bv ELSE f.fv END, 6) AS nearest_view_value,
           CAST(CASE
             WHEN b.bv IS NOT NULL AND (f.fv IS NULL OR b.bgap <= f.fgap)
               THEN -b.bgap
             WHEN f.fv IS NOT NULL THEN f.fgap END AS BIGINT)
             AS signed_gap_us
    FROM b JOIN f ON f.event_id = b.event_id
    """,
    survey_ids=("B14", "B29", "B31"),
    description="nearest-direction as-of join with 1h tolerance (backward wins ties)",
)
def asof_join_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """For each purchase, the NEAREST view value in either direction
    within 1 hour — pandas.merge_asof(direction='nearest') semantics,
    completing the backward/forward as-of pair. Arbitration is exact:
    integer millisecond gaps, backward wins ties.

    Scale shape: two union+window as-of passes (one shuffle + one sort
    each, both on the same user_id key so AQE reuses the exchange) and
    a broadcast-free equi-join of their outputs on event_id. No
    range-condition pair blowup at any scale — the oracle's ASOF is
    the same O(n log n) sort-merge.
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.temporal import (
        asof_join,
    )

    ev = t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
        .withColumn("vts", F.col("ts"))
    )
    back = asof_join(
        purchases,
        views.select("user_id", "ts", "vts", F.col("view_value").alias("bv")),
        on="user_id",
        right_cols=["vts", "bv"],
        direction="backward",
    ).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(
            F.col("vts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"), F.col("bv")
        ).alias("bv"),
        F.when(
            F.col("vts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"),
            F.expr("timestampdiff(MICROSECOND, vts, ts)"),
        ).alias("bgap"),
    )
    fwd = asof_join(
        purchases,
        views.select("user_id", "ts", "vts", F.col("view_value").alias("fv")),
        on="user_id",
        right_cols=["vts", "fv"],
        direction="forward",
    ).select(
        "event_id",
        F.when(
            F.col("vts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR"), F.col("fv")
        ).alias("fv"),
        F.when(
            F.col("vts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR"),
            F.expr("timestampdiff(MICROSECOND, ts, vts)"),
        ).alias("fgap"),
    )
    take_back = F.col("bv").isNotNull() & (
        F.col("fv").isNull() | (F.col("bgap") <= F.col("fgap"))
    )
    return back.join(fwd, "event_id").select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("purchase_value"),
        F.round(F.when(take_back, F.col("bv")).otherwise(F.col("fv")), 6)
        .alias("nearest_view_value"),
        F.when(take_back, -F.col("bgap"))
        .otherwise(F.col("fgap"))
        .cast("bigint")
        .alias("signed_gap_us"),
    )


@register(
    "seasonal_trend_decompose",
    # Daily sums are exact decimals; the trend is an exact decimal
    # 7-day window SUM divided by 7.0 (one double op); the per-dow
    # seasonal mean folds the day-SORTED detrended values (bounded by
    # the calendar) so cross-engine addition order is pinned.
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             isodow(date_trunc('day', ts)) AS dow,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT day, dow, v,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN CAST(SUM(v) OVER w AS DOUBLE) / 7.0 END AS trend
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seas AS (
      SELECT dow,
             list_reduce(list(CAST(v AS DOUBLE) - trend ORDER BY day),
                         (acc, x) -> acc + x)
               / COUNT(*) AS s
      FROM tr WHERE trend IS NOT NULL GROUP BY dow
    )
    SELECT t.day::TIMESTAMP AS day, t.dow AS dow,
           CAST(t.v AS DOUBLE) AS observed,
           ROUND(t.trend, 6) AS trend,
           ROUND(s.s, 6) AS seasonal,
           ROUND(CAST(t.v AS DOUBLE) - t.trend - s.s, 6) AS residual
    FROM tr t JOIN seas s ON s.dow = t.dow
    """,
    survey_ids=("B31", "B33", "B16"),
    description="STL-lite decomposition of daily value: 7-day trend, dow seasonal, residual",
)
def seasonal_trend_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """Classical seasonal decomposition of the daily value series:
    trend = centered 7-day moving average (full windows only),
    seasonal = mean detrended value per ISO weekday, residual = what's
    left — the decomposition a forecasting pipeline runs before
    modeling, and the structured sibling of seasonal_baseline_anomalies
    (which only flags deviations).

    Scale shape: the event stream reduces to CALENDAR-BOUNDED daily
    rows in one map-side-combined shuffle; the centered window, the
    per-dow fold (7 groups, day-sorted so the float sum replays
    identically), and the broadcast join back are all bounded by the
    calendar, never by data scale.
    """
    ev = t(spark, sf, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        (F.expr("weekday(ts)") + F.lit(1)).alias("dow"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "dow",
        "v",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.sum("v").over(w).cast("double") / F.lit(7.0),
        ).alias("trend"),
    )
    tr = tr.persist()
    seas = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy("dow")
        .agg(
            (
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "day",
                                (F.col("v").cast("double") - F.col("trend")).alias(
                                    "d"
                                ),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, e: acc + e["d"],
                )
                / F.count(F.lit(1))
            ).alias("s")
        )
    )
    return tr.join(F.broadcast(seas), "dow").select(
        F.col("day").cast("timestamp_ntz").alias("day"),
        F.col("dow").cast("bigint").alias("dow"),
        F.col("v").cast("double").alias("observed"),
        F.round("trend", 6).alias("trend"),
        F.round("s", 6).alias("seasonal"),
        F.round(
            F.col("v").cast("double") - F.col("trend") - F.col("s"), 6
        ).alias("residual"),
    )


@register(
    "burstiness_interarrival",
    # Inter-arrival gaps are exact integer microseconds from a LAG per
    # (user bucket? type); moments are exact decimal sums; CV and the
    # Goh-Barabasi burstiness index are scalar double math, round-6.
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS g
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(g AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0)))
                  AS DOUBLE) AS q
      FROM gaps WHERE g IS NOT NULL GROUP BY 1
    )
    SELECT event_type, n AS n_gaps,
           ROUND(s / n / 1000000.0, 6) AS mean_gap_s,
           ROUND(sqrt((q - s * s / n) / (n - 1)) / 1000000.0, 6) AS sd_gap_s,
           ROUND(sqrt((q - s * s / n) / (n - 1)) / (s / n), 6) AS cv,
           ROUND((sqrt((q - s * s / n) / (n - 1)) - s / n)
                 / (sqrt((q - s * s / n) / (n - 1)) + s / n), 6)
             AS burstiness
    FROM m
    """,
    survey_ids=("B30", "B23", "B16"),
    description="Inter-arrival burstiness per event type (Goh-Barabasi B index, exact moments)",
)
def burstiness_interarrival(spark: SparkSession, sf: str) -> DataFrame:
    """Is each event stream Poisson-like or bursty? The
    coefficient of variation of inter-arrival gaps and the
    Goh-Barabasi burstiness index B = (sigma - mu)/(sigma + mu)
    (B=0 Poisson, B->1 extreme bursts, B<0 regular) — the arrival-
    process diagnostic behind capacity planning and anomaly baselines.

    Scale shape: lag pairs come from ``bucketed_lag_pairs`` (the
    operator behind autocorrelation_lag1_distributed) — day-chunked
    local lags in parallel across type x day partitions with the
    severed boundary adjacencies restored from a per-bucket summary —
    so there is NO low-cardinality window wall (a naive per-type LAG
    measured +1.33 on the two-decade curve; this formulation +0.56).
    Gaps are exact integer microseconds, moments exact DECIMAL(38)
    sums, so the assembled index is engine-identical at round-6.
    """
    from ag_data_ingestion_github_to_snowflake_spark.operators.temporal import (
        bucketed_lag_pairs,
    )

    ev = t(spark, sf, "events")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP'1970-01-01', ts)")
    pts = ev.select("event_type", "ts", "event_id", us.alias("tus"))
    pairs = bucketed_lag_pairs(
        pts,
        "event_type",
        ["ts", "event_id"],
        "tus",
        F.col("ts").cast("date"),
    )
    gaps = pairs.select(
        "event_type", (F.col("y") - F.col("yprev")).alias("g")
    ).filter(F.col("g").isNotNull())
    dec = F.col("g").cast("decimal(38,0)")
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("q"),
    )
    mu = F.col("s") / F.col("n")
    sd = F.sqrt((F.col("q") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1))
    return m.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.round(mu / F.lit(1000000.0), 6).alias("mean_gap_s"),
        F.round(sd / F.lit(1000000.0), 6).alias("sd_gap_s"),
        F.round(sd / mu, 6).alias("cv"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
    )
