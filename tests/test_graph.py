"""Connected-components operator (operators/graph.py): known-graph
correctness for the alternating large-star/small-star iteration."""

from __future__ import annotations

import pytest

from wal_consumer_spark.operators.graph import connected_components, dedup_clusters


def test_connected_components_known_graph(spark):
    # {1-2-3-4 chain}, {5,6}, {7,8,9 star}, {10..13 via two pairs + bridge}
    edges = [(1, 2), (2, 3), (3, 4), (5, 6), (7, 8), (7, 9), (10, 11), (12, 13), (11, 13)]
    df = spark.createDataFrame(edges, "doc1 LONG, doc2 LONG")
    got = dict((r.node, r.component) for r in connected_components(df).collect())
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 7, 9: 7,
                   10: 10, 11: 10, 12: 10, 13: 10}


def test_dedup_clusters_sizes(spark):
    edges = [(1, 2), (2, 3), (5, 6)]
    df = spark.createDataFrame(edges, "doc1 LONG, doc2 LONG")
    got = {
        (r.component, r.n_members, r.canonical_id)
        for r in dedup_clusters(df).collect()
    }
    assert got == {(1, 3, 1), (5, 2, 5)}


def test_cc_round_telemetry_and_convergence(spark):
    """Round-4 VERDICT 'Next round' #4: rounds-to-fixpoint must be
    observable, and the known graphs must actually CONVERGE well under
    max_iter (the contract doc promises over-segmentation, never
    over-merging, when they don't)."""
    from wal_consumer_spark.operators.graph import last_cc_stats

    edges = [(i, i + 1) for i in range(1, 40)]  # 40-node path: worst-ish
    df = spark.createDataFrame(edges, "doc1 LONG, doc2 LONG")
    got = dict((r.node, r.component) for r in connected_components(df).collect())
    assert set(got.values()) == {1} and len(got) == 40
    assert last_cc_stats["converged"] is True
    assert 1 <= last_cc_stats["rounds"] <= 10  # O(log^2 n), not O(n)

    # partial-contraction contract: max_iter=1 must over-segment at worst,
    # never merge two true components
    two = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)]
    df2 = spark.createDataFrame(two, "doc1 LONG, doc2 LONG")
    with pytest.warns(RuntimeWarning, match=r"rounds=1 reached max_iter=1"):
        part = dict(
            (r.node, r.component)
            for r in connected_components(df2, max_iter=1).collect()
        )
    assert last_cc_stats == {"rounds": 1, "converged": False}
    for node, comp in part.items():
        same_true = (node <= 4) == (comp <= 4)
        assert same_true, f"over-merge: {node} -> {comp}"


def test_connected_components_accepts_non_nullable_input(spark):
    """Regression: non-nullable edge columns (spark.range ids, collect_set
    elements, non-null group-by keys) used to trip a Catalyst rewrite bug
    in the star iteration under localCheckpoint on Spark 4.1
    ("NoSuchElementException: key not found: dst#NL"); the operator now
    forces its working columns nullable. A range-derived chain graph is
    the minimal trigger."""
    from pyspark.sql import functions as F

    from wal_consumer_spark.operators.graph import (
        connected_components,
        last_cc_stats,
    )

    pairs = spark.range(0, 50).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    assert not pairs.schema["a"].nullable  # the trigger precondition
    got = dict(
        (r.node, r.component)
        for r in connected_components(pairs, src="a", dst="b").collect()
    )
    assert set(got.values()) == {0} and len(got) == 51
    assert last_cc_stats["converged"] is True
