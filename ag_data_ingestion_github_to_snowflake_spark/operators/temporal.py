"""Temporal join operators Spark lacks natively: as-of join and
bucketed interval (range) join.

As-of join — for each left row, the most recent right row at or before
its timestamp, per key — is implemented with the union+window trick:

    tag both sides, union them, sort within each key by (ts, side),
    carry the last-seen right payload forward with
    last(..., ignorenulls=True), keep only left rows.

Cost: ONE shuffle on the key + ONE within-partition sort — the same
price as a sort-merge join, with no range-condition blowup. This is
the scale-correct shape: a naive `l JOIN r ON l.key = r.key AND
r.ts <= l.ts` + window-max produces |matches| ~ |l|x|r per key| rows
before ranking; the union trick never materializes them.

Range/interval join buckets both sides by interval-sized time buckets
so candidate pairs share a bucket — the standard interval-bucketing
strategy that keeps a theta-range join off the cartesian path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_right",
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join per key: for each left row the nearest right row at or
    before (``direction="backward"``, the default) or at or after
    (``direction="forward"``) its timestamp — both inclusive at equal
    timestamps, matching DuckDB/pandas ASOF semantics.

    ``tolerance`` (an INTERVAL string like ``"2 hours"``) voids a match
    whose timestamp gap exceeds it: the matched columns come back NULL,
    exactly as ``pandas.merge_asof(tolerance=...)`` behaves. The match
    is still the NEAREST row (tolerance filters, never re-picks), so
    the plan cost is unchanged: one shuffle + one sort, applied the
    same way in both directions (forward just flips the sort order).

    ``right`` should be unique per (key, ts) — pre-aggregate if not
    (ties would be nondeterministic in any engine).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    right_cols = right_cols or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    # Internal scratch names: "_rts" rides inside the carried payload
    # struct and "_ts"/"_side"/"_payload"/"_matched" are union-plan
    # columns. A user column with one of these names would silently
    # collide (ambiguous getField / dropped data), so reject up front.
    reserved = {"_ts", "_side", "_payload", "_matched"}
    clashes = sorted(
        ({"_rts"} & set(right_cols))
        | (reserved & set(left.columns))
        | (reserved & set(right_cols))
    )
    if clashes:
        raise ValueError(
            f"asof_join reserves column names {sorted(reserved | {'_rts'})} "
            f"for internal use; rename the clashing input columns: {clashes}"
        )
    # _rts rides inside the payload so the tolerance test can see the
    # matched row's timestamp after the carry.
    payload = F.struct(
        *[F.col(c) for c in right_cols], F.col(right_ts).alias("_rts")
    )

    l_tag = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1)).withColumn(
        "_payload", F.lit(None).cast(
            right.select(payload.alias("_p")).schema["_p"].dataType
        )
    )
    r_tag = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("_ts"),
            F.lit(0).alias("_side"),
            payload.alias("_payload"),
        )
    )
    # align columns for the union: left keeps its full row
    l_cols = [c for c in left.columns]
    unioned = l_tag.select(
        *l_cols, "_ts", "_side", "_payload"
    ).unionByName(
        r_tag.select(
            *[
                F.col(c) if c == on else F.lit(None).cast(left.schema[c].dataType).alias(c)
                for c in l_cols
            ],
            "_ts",
            "_side",
            "_payload",
        )
    )
    # right rows (side 0) sort before left rows at equal ts: ties match.
    # Forward direction = the same carry over the REVERSED timestamp
    # order (the nearest following row is the last one seen walking
    # backward from the end).
    ts_order = F.asc("_ts") if direction == "backward" else F.desc("_ts")
    w = (
        Window.partitionBy(on)
        .orderBy(ts_order, F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "_matched", F.last("_payload", ignorenulls=True).over(w)
    )
    if tolerance is not None:
        gap_ok = (
            F.col("_matched._rts")
            >= F.col("_ts") - F.expr(f"INTERVAL {tolerance}")
            if direction == "backward"
            else F.col("_matched._rts")
            <= F.col("_ts") + F.expr(f"INTERVAL {tolerance}")
        )
        carried = carried.withColumn(
            "_matched", F.when(gap_ok, F.col("_matched"))
        )
    out = carried.filter(F.col("_side") == 1).select(
        *l_cols,
        *[
            F.col("_matched").getField(c).alias(f"{c}{suffix}" if c in l_cols else c)
            for c in right_cols
        ],
    )
    return out


_UNIT_SECONDS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def _interval_seconds(interval: str) -> int:
    """Parse 'N unit' interval strings ('30 minutes', '1 hour')."""
    parts = interval.strip().split()
    try:
        n, unit = int(parts[0]), _UNIT_SECONDS[parts[1].lower()]
    except (ValueError, KeyError, IndexError):
        raise ValueError(
            f"unsupported bucket interval {interval!r}; expected 'N "
            f"second[s]|minute[s]|hour[s]|day[s]'"
        ) from None
    return n * unit


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_start: str,
    right_end: str,
    bucket: str = "1 hour",
) -> DataFrame:
    """Interval join: left.ts ∈ [right.start, right.end), equi on key.

    Both sides map to interval-sized buckets (right intervals explode
    over the buckets they span), then join on (key, bucket) + residual
    range predicate. Shuffle volume ~ rows x avg buckets per interval,
    never |l| x |r|.
    """
    b = F.unix_timestamp  # seconds precision for bucketing

    secs = _interval_seconds(bucket)
    l_b = left.withColumn("_bucket", (b(F.col(left_ts)) / secs).cast("long"))
    r_b = right.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                (b(F.col(right_start)) / secs).cast("long"),
                (b(F.col(right_end)) / secs).cast("long"),
            )
        ),
    )
    return (
        l_b.join(r_b, [on, "_bucket"])
        .filter(
            (F.col(left_ts) >= F.col(right_start)) & (F.col(left_ts) < F.col(right_end))
        )
        .drop("_bucket")
    )


def distributed_sweep_max_concurrency(
    pts: DataFrame,
    group_col: str = "event_type",
    t_col: str = "t",
    delta_col: str = "delta",
    bucket_width: int = 86_400_000_000,
) -> DataFrame:
    """Sweep-line max concurrency with PARALLEL running sums.

    A one-window sweep partitions its running sum only on
    ``group_col``, so a group's whole timeline lands on one task and
    parallelism is capped at n_groups (OPTIMIZATION_r15.md, "One plan
    per answer"). This is the two-level prefix-sum decomposition that
    removes the wall:

    1. chunk each group's timeline into fixed ``bucket_width`` ranges
       (time-ordered by construction, so chunks are independent);
    2. local running sums + (sum, max) per (group, chunk) — parallel
       across all chunks of all groups;
    3. prefix-sum the tiny per-chunk totals within each group (a
       window over n_chunks rows, not n_points);
    4. global max per group = max(chunk offset + local max).

    Tie ordering (ends before starts at one instant) is preserved:
    tied points share a timestamp, hence a chunk. Same contract as
    ``assign_sequence_ids``'s range-partition + offset pattern — no
    global sort, no single-task scan of a group's full history.
    """
    bucket = (F.col(t_col) / F.lit(bucket_width)).cast("long").alias("_bucket")
    w_local = (
        Window.partitionBy(group_col, "_bucket")
        .orderBy(t_col, delta_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = (
        pts.select(group_col, bucket, t_col, delta_col)
        .withColumn("_run", F.sum(delta_col).over(w_local))
        .groupBy(group_col, "_bucket")
        .agg(
            F.sum(delta_col).alias("_chunk_sum"),
            F.max("_run").alias("_chunk_max"),
        )
    )
    w_offset = (
        Window.partitionBy(group_col)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        local.withColumn(
            "_offset", F.coalesce(F.sum("_chunk_sum").over(w_offset), F.lit(0))
        )
        .groupBy(group_col)
        .agg(
            F.max(F.col("_offset") + F.col("_chunk_max"))
            .cast("bigint")
            .alias("max_concurrent")
        )
    )


def bucketed_lag_pairs(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    bucket_expr: Column,
) -> DataFrame:
    """Distributed lag-1 pairing: (group, yprev, y) — exactly the
    pairs a global per-group LAG would produce, built WITHOUT the
    low-cardinality window wall.

    A per-group LAG sorts the whole group on one task, so k groups cap
    parallelism at k regardless of cluster size (the same wall
    ``distributed_sweep_max_concurrency`` breaks for running sums).
    Here the order is chunked by ``bucket_expr`` (any expression
    MONOTONE in the order, e.g. day truncation of the leading order
    column): within-bucket lags run in parallel across group x bucket
    partitions, and the single pair each bucket boundary severs is
    restored from a per-bucket summary table (first/last value per
    bucket, lagged over buckets — k * n_buckets rows, trivially
    sorted). Union of the two = the exact global pair set, because a
    monotone bucketing preserves the global order and severs exactly
    the (last-of-bucket, first-of-next-bucket) adjacencies.

    Precondition: ``order_cols`` must be UNIQUE within each group — the
    per-bucket first/last structs sort on (order_cols, value), so
    duplicate order keys would let the value column tiebreak and pick
    a different adjacency than LAG. NULLs in ``value_col`` are handled
    exactly (bucket-first rows are detected positionally via
    row_number, never by yprev null-ness, so a genuine NULL previous
    value survives as a (NULL, y) pair just as global LAG emits it).
    """
    order = [F.col(c) for c in order_cols]
    pts = df.select(
        F.col(group_col),
        bucket_expr.alias("_bucket"),
        *[F.col(c) for c in order_cols],
        F.col(value_col).alias("_y"),
    )
    w_local = Window.partitionBy(group_col, "_bucket").orderBy(*order)
    within = (
        pts.withColumn("_yprev", F.lag("_y").over(w_local))
        .withColumn("_rn", F.row_number().over(w_local))
        .filter(F.col("_rn") > 1)
        .select(group_col, F.col("_yprev").alias("yprev"), F.col("_y").alias("y"))
    )
    first_last = pts.groupBy(group_col, "_bucket").agg(
        F.min(F.struct(*order, F.col("_y"))).alias("_first"),
        F.max(F.struct(*order, F.col("_y"))).alias("_last"),
    )
    w_buckets = Window.partitionBy(group_col).orderBy("_bucket")
    boundary = (
        first_last.withColumn("_prev_last", F.lag("_last").over(w_buckets))
        .filter(F.col("_prev_last").isNotNull())
        .select(
            group_col,
            F.col("_prev_last._y").alias("yprev"),
            F.col("_first._y").alias("y"),
        )
    )
    return within.unionByName(boundary)
