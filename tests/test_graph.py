"""Connected-components operator: golden graphs + dedup composition.

Shapes exercised: multi-hop chain (forces >1 propagation round),
triangle (near-dup clique), isolated node via the ``nodes`` universe,
and two separate components.
"""

from __future__ import annotations

from ag_data_ingestion_github_to_snowflake_spark.operators.graph import (
    connected_components,
)


def _labels(spark, edges, nodes=None):
    e = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    n = (
        spark.createDataFrame([(x,) for x in nodes], "node bigint")
        if nodes is not None
        else None
    )
    out = connected_components(e, nodes=n)
    return {r["node"]: r["comp"] for r in out.collect()}


def test_chain_propagates_min_over_multiple_hops(spark):
    # 5-node path: diameter 4, so one round is NOT enough — proves the
    # loop actually iterates to fixpoint.
    got = _labels(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_triangle_and_separate_component(spark):
    got = _labels(spark, [(10, 11), (11, 12), (10, 12), (20, 21)])
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_isolated_nodes_keep_own_label(spark):
    got = _labels(spark, [(1, 2)], nodes=[1, 2, 7, 9])
    assert got == {1: 1, 2: 1, 7: 7, 9: 9}


def test_edge_orientation_irrelevant(spark):
    assert _labels(spark, [(5, 3), (3, 4)]) == {3: 3, 4: 3, 5: 3}


def test_long_chain_converges_logarithmically(spark):
    # 200-hop path: plain min-label propagation needs 200 rounds; the
    # pointer-jumping step must settle it within 15.
    edges = [(i, i + 1) for i in range(200)]
    e = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    out = connected_components(e, max_iter=15)
    comps = {r["comp"] for r in out.collect()}
    assert comps == {0} and out.count() == 201
