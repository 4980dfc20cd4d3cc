"""Custom stateful streaming operator via ``applyInPandasWithState``.

Implements a per-key running aggregate with timeout-based state expiry
— the programmable-state escape hatch for semantics the built-in
windows can't express (here: a running per-user spend counter that
emits an updated row per micro-batch and expires idle users).

Scale notes: state is partitioned by the grouping key exactly like a
streaming aggregation; each executor holds only its keys' state, and
the processing-time timeout bounds state size for idle keys. The
kernel is Arrow-batched pandas per key-group per batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def make_running_totals_kernel(idle_timeout_ms: int | None):
    """Kernel factory: accumulate (count, sum) per user across
    micro-batches, optionally expiring idle users via a
    processing-time timer."""

    def kernel(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        # State keeps the RAW accumulator; rounding only at emit —
        # re-rounding state every batch would compound drift.
        state.update((n, total))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return kernel


def running_user_totals(events: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Per-user running totals over a stream (emits per batch).

    ``idle_timeout_ms`` arms a processing-time timer that expires idle
    users' state — use it on CONTINUOUS streams to bound state size.
    Leave it None for AvailableNow drains: pending timers keep the
    query alive past the last input batch, so a drain with timers set
    never terminates.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        make_running_totals_kernel(idle_timeout_ms),
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# CEP pattern matcher: first view -> click -> purchase chain per user
# ---------------------------------------------------------------------------
CEP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("tv_us", T.LongType()),
        T.StructField("tc_us", T.LongType()),
        T.StructField("tp_us", T.LongType()),
    ]
)

# (latest_view_us, latest_click_us, view_at_click_us, matched) with -1
# sentinels — GroupState tuples must be flat primitives.
CEP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("lv", T.LongType()),
        T.StructField("lc", T.LongType()),
        T.StructField("lcv", T.LongType()),
        T.StructField("matched", T.LongType()),
    ]
)

_CEP_RANK = {"view": 0, "click": 1, "purchase": 2}


def make_funnel_cep_kernel(window_us: int):
    """CEP kernel: per user, emit the FIRST purchase preceded (at or
    before, ties inclusive) by a click that itself had a view at or
    before it, with the view within ``window_us`` of the purchase.

    O(1) state per key — (latest view, latest click, that click's
    view) — never an event buffer: the 'latest click at-or-before the
    purchase' is exactly the last click processed, and its
    view-at-click was frozen when the click arrived. Requires
    time-ordered micro-batches (the staged slices guarantee it);
    within a batch, rows sort by (ts, stage-rank) so same-instant
    view->click->purchase chains match inclusively,
    mirroring the <= joins of the batch oracle.
    """

    def kernel(key, batches, state) -> "Iterator[pd.DataFrame]":
        if state.hasTimedOut:  # pragma: no cover - NoTimeout drains
            state.remove()
            return
        lv, lc, lcv, matched = (
            state.get if state.exists else (-1, -1, -1, 0)
        )
        out = []
        for pdf in batches:
            if matched:
                break
            # Plain Python: a per-user frame is a handful of rows, where
            # pandas per-call overhead dominated (OPTIMIZATION_r14.md §8).
            # Rows tied on (ts, stage-rank) update the state identically,
            # so event_id, which may be null, is not part of the key.
            rows = sorted(
                (int(ts), _CEP_RANK[et])
                for ts, et in zip(pdf["ts_us"].values, pdf["event_type"].values)
                if et in _CEP_RANK
            )
            for ts, rank in rows:
                if rank == 0:
                    lv = ts
                elif rank == 1:
                    lc, lcv = ts, lv
                elif matched == 0 and lc >= 0 and lcv >= 0 and ts - lcv <= window_us:
                    out.append((key[0], lcv, lc, ts))
                    matched = 1
                    break
        state.update((lv, lc, lcv, matched))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "tv_us", "tc_us", "tp_us"]
            )

    return kernel


def funnel_cep_matches(events: DataFrame, window_us: int) -> DataFrame:
    """Streaming CEP over (user_id, ts_us, event_type, event_id):
    first qualifying view->click->purchase chain per user."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        make_funnel_cep_kernel(window_us),
        outputStructType=CEP_OUTPUT_SCHEMA,
        stateStructType=CEP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
