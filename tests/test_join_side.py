"""Both sides of the join-side policy (``graph.join_side`` / ``graph.is_small``).

No small test graph crosses the 100k-row state bound or the 2M-row edge
bound, so at the default bounds every kernel takes the broadcast side. The
``shuffle_side`` fixture lowers both bounds to 0, which sends every policy
site down the shuffle-hash side (and the large-state truncation cadence).
Each case runs one entry point of every operator file that routes through
the policy, once at the default bounds and once forced, on the same seeded
R-MAT graph: integer and label outputs must match exactly, float outputs
to rtol 1e-9.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from llama_spark import graph
from tests.conftest import edges_df, rmat_edges

RTOL = 1e-9


@pytest.fixture
def shuffle_side(monkeypatch):
    """Call to lower both broadcast bounds to 0 for the rest of the test."""

    def force() -> None:
        monkeypatch.setattr(graph, "BROADCAST_MAX_ROWS", 0)
        monkeypatch.setattr(graph, "EDGE_BROADCAST_MAX_ROWS", 0)

    return force


@pytest.fixture(scope="module")
def rmat(spark):
    """Seeded R-MAT scale 8 (≤256 nodes), ~1k directed edges, deduped."""
    pairs = sorted({(s, d) for s, d in rmat_edges(scale=8, avg_degree=4, seed=11)})
    return edges_df(spark, pairs).persist()


def _nodes(edges, k):
    """The k smallest node ids that appear as an edge source."""
    return [r[0] for r in edges.select("src").distinct().orderBy("src").limit(k).collect()]


def _pagerank(edges):
    from llama_spark.operators.pagerank import pagerank

    return pagerank(edges, max_iter=2)


def _personalized(edges):
    from llama_spark.operators.pagerank import personalized_pagerank

    return personalized_pagerank(edges, _nodes(edges, 3), max_iter=2)


def _topic(edges):
    from llama_spark.operators.pagerank import topic_sensitive_pagerank

    topic = F.when(F.col("id") % 7 == 0, F.col("id") % 2)
    return topic_sensitive_pagerank(edges, topic, 2, max_iter=2)


def _truncated(edges):
    from llama_spark.operators.pagerank import truncated_pagerank

    return truncated_pagerank(edges, truncate=1, max_iter=3)


def _cc(edges):
    from llama_spark.operators.components import connected_components

    return connected_components(edges)


def _lp(edges):
    from llama_spark.operators.components import label_propagation

    return label_propagation(edges, max_iter=2)


def _louvain(edges):
    from llama_spark.operators.components import louvain_communities

    return louvain_communities(edges, max_iter=1)


def _hits(edges):
    from llama_spark.operators.hits import hits

    return hits(edges, max_iter=1)


def _coreness(edges):
    from llama_spark.operators.kcore import coreness

    return coreness(edges, rounds=2)


def _k_core(edges):
    from llama_spark.operators.kcore import k_core

    return k_core(edges, 3, rounds=2)


def _sssp(edges):
    from llama_spark.operators.traversal import sssp

    return sssp(edges, root=_nodes(edges, 1)[0])


def _bfs_forest(edges):
    from llama_spark.operators.bridges import bfs_forest

    return bfs_forest(edges)


def _hitting(edges):
    from llama_spark.operators.diffusion import truncated_hitting_time

    return truncated_hitting_time(edges, _nodes(edges, 2), horizon=2)


def _fiedler(edges):
    from llama_spark.operators.spectral import fiedler_vector

    return fiedler_vector(edges, max_iter=2)


def _walks(edges):
    from llama_spark.operators.walks import random_walks

    return random_walks(edges, walk_length=2)


def _flow(edges):
    from llama_spark.operators.flow import max_flow_summary

    s, t = _nodes(edges, 2)
    return max_flow_summary(edges, s, t, max_augment=1, max_depth=2)


def _anf(edges):
    from llama_spark.operators.anf import neighborhood_function

    return neighborhood_function(edges, max_t=2)


def _katz(edges):
    from llama_spark.operators.centrality import katz_centrality

    return katz_centrality(edges, max_iter=2)


def _scc(edges):
    from llama_spark.operators.scc import strongly_connected_components

    return strongly_connected_components(edges)


def _bc(edges):
    from llama_spark.operators.bc import betweenness_centrality

    return betweenness_centrality(edges, roots=_nodes(edges, 1), max_depth=2)


def _spinner(edges):
    from llama_spark.operators.partition import spinner_partition

    return spinner_partition(edges, k=4, rounds=2)


def _sybilrank(edges):
    from llama_spark.operators.trust import sybilrank

    return sybilrank(edges, _nodes(edges, 2), max_iter=2)


def _densest(edges):
    from llama_spark.operators.densest import densest_subgraph

    return densest_subgraph(edges, eps=1.0)


def _mst(edges):
    from llama_spark.operators.mst import minimum_spanning_forest

    return minimum_spanning_forest(graph.with_synthetic_weights(edges))


def _trussness(edges):
    from llama_spark.operators.truss import trussness

    return trussness(edges, rounds=2)


def _triads(edges):
    from llama_spark.operators.triads import triad_census

    return triad_census(edges)


CASES = {
    "pagerank": _pagerank,
    "personalized_pagerank": _personalized,
    "topic_sensitive_pagerank": _topic,
    "truncated_pagerank": _truncated,
    "connected_components": _cc,
    "label_propagation": _lp,
    "louvain_communities": _louvain,
    "hits": _hits,
    "coreness": _coreness,
    "k_core": _k_core,
    "sssp": _sssp,
    "bfs_forest": _bfs_forest,
    "truncated_hitting_time": _hitting,
    "fiedler_vector": _fiedler,
    "random_walks": _walks,
    "max_flow_summary": _flow,
    "neighborhood_function": _anf,
    "katz_centrality": _katz,
    "strongly_connected_components": _scc,
    "betweenness_centrality": _bc,
    "spinner_partition": _spinner,
    "sybilrank": _sybilrank,
    "densest_subgraph": _densest,
    "minimum_spanning_forest": _mst,
    "trussness": _trussness,
    "triad_census": _triads,
}


def _sorted_rows(df):
    """Collected rows ordered by their non-float fields, then floats."""
    rows = [tuple(r) for r in df.collect()]

    def key(row):
        exact = tuple(repr(v) for v in row if not isinstance(v, float))
        floats = tuple(v for v in row if isinstance(v, float))
        return exact, floats

    return sorted(rows, key=key)


def _assert_same(expected, actual, case):
    assert len(expected) == len(actual), case
    for e_row, a_row in zip(expected, actual):
        for e, a in zip(e_row, a_row):
            if isinstance(e, float) and isinstance(a, float):
                assert (math.isnan(e) and math.isnan(a)) or math.isclose(
                    e, a, rel_tol=RTOL
                ), (case, e_row, a_row)
            else:
                assert e == a, (case, e_row, a_row)


def test_join_side_reads_bounds_at_call_time(spark, shuffle_side):
    left = spark.range(50).withColumnRenamed("id", "k")
    right = spark.range(10).withColumnRenamed("id", "k")

    def plan():
        joined = left.join(graph.join_side(right, 10), "k")
        return joined._jdf.queryExecution().executedPlan().toString()

    assert graph.is_small(graph.BROADCAST_MAX_ROWS)
    assert not graph.is_small(graph.BROADCAST_MAX_ROWS + 1)
    assert "BroadcastHashJoin" in plan()
    shuffle_side()
    assert not graph.is_small(10)
    assert "ShuffledHashJoin" in plan()


@pytest.mark.parametrize("case", sorted(CASES))
def test_both_sides_agree(spark, rmat, shuffle_side, case):
    run = CASES[case]
    broadcast = _sorted_rows(run(rmat))
    shuffle_side()
    shuffled = _sorted_rows(run(rmat))
    assert broadcast, case
    _assert_same(broadcast, shuffled, case)


def test_read_at_delete_sets_both_sides(spark, shuffle_side):
    from llama_spark.streaming.snapshots import InMemoryBackend, VersionedEdgeStore

    pairs = sorted({(s, d) for s, d in rmat_edges(scale=8, avg_degree=4, seed=11)})
    store = VersionedEdgeStore(spark, backend=InMemoryBackend(spark))
    half = len(pairs) // 2
    store.append_level(edges_df(spark, pairs[:half]))
    store.append_level(edges_df(spark, pairs[half:]))
    store.delete_edges(edges_df(spark, pairs[::9]))
    level = store.delete_nodes(spark.createDataFrame([(3,), (5,)], "id long"))
    broadcast = _sorted_rows(store.read_at(level))
    shuffle_side()
    shuffled = _sorted_rows(store.read_at(level))
    assert 0 < len(broadcast) < len(pairs)
    assert broadcast == shuffled
