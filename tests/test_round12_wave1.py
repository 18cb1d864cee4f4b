"""Round-12 wave 1: the graph loops' two execution paths.

Round-11 verdict #4 made the iterative family's per-round cost a
first-class concern: below the measured GRAPH_BROADCAST_MAX_ROWS gate
the loops attach broadcast hints (and PageRank runs fully lazy);
above it they keep the co-partitioned shuffle-join + checkpoint path.
The fixture corpus only ever exercises the small path, so these tests
FORCE the big path (gate monkeypatched to 0) and pin path-equality —
an optimization that diverges the two plans' RESULTS must fail here,
not at 100×.
"""

from __future__ import annotations

import pytest

from mapreduce_golang_spark.operators import dedup as dedup_mod
from mapreduce_golang_spark.operators import graph as graph_mod


@pytest.fixture()
def tiny_graph(spark):
    # two components: a 4-clique-ish cluster {1,2,3,4} and a pair
    # {10,11}; doc 20 is a singleton (appears in docs, not in pairs)
    pairs = spark.createDataFrame(
        [
            (1, 2, 0.9),
            (1, 3, 0.8),
            (2, 3, 0.7),
            (3, 4, 0.6),
            (10, 11, 0.55),
        ],
        ["doc_a", "doc_b", "jaccard"],
    )
    docs = spark.createDataFrame(
        [(i, "x") for i in (1, 2, 3, 4, 10, 11, 20)], ["doc_id", "text"]
    )
    return docs, pairs


def _force_big_path(monkeypatch):
    # graph.py binds the name at import; dedup.py reads its own global
    monkeypatch.setattr(graph_mod, "GRAPH_BROADCAST_MAX_ROWS", 0)
    monkeypatch.setattr(dedup_mod, "GRAPH_BROADCAST_MAX_ROWS", 0)


def test_pagerank_big_path_equals_small_path(spark, tiny_graph, monkeypatch):
    docs, pairs = tiny_graph
    small = {
        r.doc_id: r.rank
        for r in graph_mod.near_dup_pagerank(docs, pairs=pairs).collect()
    }
    _force_big_path(monkeypatch)
    big = {
        r.doc_id: r.rank
        for r in graph_mod.near_dup_pagerank(docs, pairs=pairs).collect()
    }
    # identical iteration dataflow → identical round-6 values
    assert small == big and len(small) == 6  # singleton 20 has no edges


def test_weighted_pagerank_big_path_equals_small_path(spark, tiny_graph, monkeypatch):
    docs, pairs = tiny_graph
    small = {
        r.doc_id: r.rank
        for r in graph_mod.near_dup_weighted_pagerank(docs, pairs=pairs).collect()
    }
    _force_big_path(monkeypatch)
    big = {
        r.doc_id: r.rank
        for r in graph_mod.near_dup_weighted_pagerank(docs, pairs=pairs).collect()
    }
    assert small == big and len(small) == 6


def test_components_big_path_equals_small_path(spark, monkeypatch):
    """near_dup_components has three regimes, picked by the pair and
    label counts it measures against GRAPH_BROADCAST_MAX_ROWS: the
    in-process union-find (pairs <= cap), the label-propagation loop
    with broadcast hints (pairs > cap >= label rows) and the loop
    without hints (cap 0). All three must return the same fixpoint."""
    # a 4-clique {1,2,3,4} (6 pairs, listed in both orientations) plus
    # the pair {10,11}: 7 pairs over 6 nodes; doc 20 is a singleton
    pairs = spark.createDataFrame(
        [(4, 3, 0.9), (1, 2, 0.9), (3, 1, 0.8), (2, 3, 0.7), (1, 4, 0.6), (4, 2, 0.6), (11, 10, 0.55)],
        ["doc_a", "doc_b", "jaccard"],
    )
    docs = spark.createDataFrame(
        [(i, "x") for i in (1, 2, 3, 4, 10, 11, 20)], ["doc_id", "text"]
    )
    loops = []
    measured = dedup_mod.right_size_graph_counted

    def counted(*args, **kwargs):
        loops.append(1)
        return measured(*args, **kwargs)

    monkeypatch.setattr(dedup_mod, "right_size_graph_counted", counted)
    results = {}
    for regime, cap, loop, hinted in (
        ("in_process", None, False, True),
        ("loop_broadcast", 6, True, True),
        ("loop_shuffle", 0, True, False),
    ):
        if cap is not None:
            monkeypatch.setattr(dedup_mod, "GRAPH_BROADCAST_MAX_ROWS", cap)
        loops.clear()
        comp = dedup_mod.near_dup_components(docs, pairs=pairs)
        analyzed = comp._jdf.queryExecution().analyzed().toString()
        assert bool(loops) == loop, regime
        assert ("strategy=broadcast" in analyzed) == hinted, regime
        results[regime] = {r.doc_id: r.component_id for r in comp.collect()}
    # exact fixpoint in every regime: min-label per component, singleton
    # maps to itself
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}
    assert results == {regime: expected for regime in results}


def test_kcore_big_path_equals_small_path(spark, tiny_graph, monkeypatch):
    docs, pairs = tiny_graph
    small = {
        r.doc_id: r.core_degree
        for r in graph_mod.kcore_docs(docs, pairs=pairs).collect()
    }
    _force_big_path(monkeypatch)
    big = {
        r.doc_id: r.core_degree
        for r in graph_mod.kcore_docs(docs, pairs=pairs).collect()
    }
    assert small == big
    # the 2-core is the {1,2,3} triangle: 4 hangs off 3 (degree 1 →
    # pruned, which drops 3 to degree 2), the {10,11} pair prunes away
    assert small == {1: 2, 2: 2, 3: 2}


def test_small_path_pagerank_plan_is_broadcast(spark, tiny_graph):
    """Below the gate the per-iteration join must be broadcast-hash —
    never a shuffle of the checkpointed edge list. With the measured
    checkpoint cadence (every 2nd iteration) an odd iteration count
    leaves the final iteration lazy, so its join is visible in the
    returned plan."""
    docs, pairs = tiny_graph
    ranks = graph_mod.near_dup_pagerank(docs, pairs=pairs, iterations=3)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
