"""Distributed contiguous id assignment (0..n-1) without a global sort
bottleneck.

A training-data pipeline needs stable sequence numbers — shard/example
ids for written corpora, positions for packed-sequence manifests. The
naive ``ROW_NUMBER() OVER (ORDER BY key)`` forces every row through one
partition (a single-task sort at 100 TB). The scalable shape, built
only from public Spark primitives, has one shuffle:

1. range-repartition on the order key (sampled range partitioner —
   the same exchange a global ORDER BY uses, data stays distributed),
   then sort within each range partition;
2. ``monotonically_increasing_id()``, which packs the partition index
   into the high bits and the row's position within the partition
   into the low 33 bits;
3. one eager ``localCheckpoint``, whose per-partition row counts (ONE
   row per partition — bounded by parallelism, not data) are collected
   to the driver and prefix-summed;
4. ``seq_id = packed id + delta(partition)``, map-side: the deltas
   ride the plan as a literal array, so there is no offset join.

The result equals the single-partition ROW_NUMBER exactly, which is
what the DuckDB oracle checks: the counts and the returned rows read
the same materialization, the order key is unique (the global order is
total) and range partitions hold consecutive key ranges in partition
order. No counterpart in the reference — its ids come from the API;
this primitive is what replaces them when the corpus itself must mint
ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id(): partition index << 33 | row position.
_POS_BITS = 33


def assign_sequential_ids(
    df: DataFrame,
    order_col: str | list[str] | tuple[str, ...],
    out_col: str = "seq_id",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Add ``out_col`` = dense 0-based rank of ``order_col`` across the
    whole frame; return that frame and its row count n (ids are
    0..n-1, n summed on the driver from the per-partition counts).

    ``order_col`` may be one column name or a list of names forming a
    composite sort key; the combination must be unique (a unique key
    makes the global order — and therefore the assignment — total and
    deterministic). Each range partition may hold at most 2**33 rows,
    the position field of ``monotonically_increasing_id()``.
    """
    cols = [order_col] if isinstance(order_col, str) else list(order_col)
    keys = [F.col(c) for c in cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Checkpoint: the counts collect and the returned plan must see ONE
    # materialization of the range exchange, whose sampled bounds would
    # differ on a re-run — this also stands in for the bronze write a
    # 100 TB job would do.
    local = (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    pid = F.shiftright("_mid", _POS_BITS)
    counts = dict(local.groupBy(pid.alias("p")).count().collect())
    deltas, total = [], 0
    for p in range(max(counts, default=0) + 1):
        deltas.append(total - (p << _POS_BITS))
        total += counts.get(p, 0)
    delta = F.element_at(F.array(*[F.lit(d) for d in deltas]), pid.cast("int") + 1)
    return local.withColumn(out_col, F.col("_mid") + delta).drop("_mid"), total
