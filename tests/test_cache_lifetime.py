"""No operator call leaves a live cache entry behind.

Each case records the session CacheManager's entry count, runs one entry
point on a seeded R-MAT scale-8 graph, consumes the result and checks the
count is back where it started. ``unpersist`` drops the entry at once, so
no GC is needed. Covered: the power-iteration family that runs on
``plans/fixpoint.rounds`` (including its empty-graph and raise paths), the
three benchmarked kernels, a durable-checkpoint PageRank run, and the
percolation census, whose callers own the edge table they persist.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import edges_df, rmat_edges


@pytest.fixture(scope="module")
def rmat(spark):
    """Seeded R-MAT scale 8 (≤256 nodes), ~1k directed edges, deduped."""
    pairs = sorted({(s, d) for s, d in rmat_edges(scale=8, avg_degree=4, seed=11)})
    e = edges_df(spark, pairs).persist()
    e.count()
    yield e
    e.unpersist()


def _seeds(edges):
    return [r[0] for r in edges.select("src").distinct().orderBy("src").limit(2).collect()]


def _topic():
    return F.when(F.col("id") % 7 == 0, F.col("id") % 2)


def _call(name, edges, tmp_path):
    from llama_spark.operators import (
        centrality,
        components,
        csr,
        diffusion,
        hits,
        pagerank,
        percolation,
        spectral,
        trust,
    )

    calls = {
        "topic_sensitive_pagerank": lambda: pagerank.topic_sensitive_pagerank(
            edges, _topic(), 2, max_iter=2
        ),
        "pagerank_trace": lambda: pagerank.pagerank_trace(edges, iters=2),
        "hits_result": lambda: hits.hits_result(edges, max_iter=2).state,
        "salsa_result": lambda: hits.salsa_result(edges, max_iter=2).state,
        "eigenvector_centrality": lambda: centrality.eigenvector_centrality(
            edges, max_iter=2
        ).state,
        "nonbacktracking_centrality": lambda: centrality.nonbacktracking_centrality(
            edges, max_iter=2
        ),
        "sybilrank": lambda: trust.sybilrank(edges, _seeds(edges), max_iter=2),
        "heat_kernel_pagerank": lambda: diffusion.heat_kernel_pagerank(edges, taylor_k=2),
        "truncated_hitting_time": lambda: diffusion.truncated_hitting_time(
            edges, _seeds(edges), horizon=2
        ),
        "fiedler_vector": lambda: spectral.fiedler_vector(edges, max_iter=2),
        "fiedler_vector_normalized": lambda: spectral.fiedler_vector_normalized(
            edges, max_iter=2
        ),
        "spectral_embedding2": lambda: spectral.spectral_embedding2(edges, max_iter=2),
        "pagerank_result": lambda: pagerank.pagerank_result(edges, max_iter=2).state,
        "pagerank_result_checkpointed": lambda: pagerank.pagerank_result(
            edges, max_iter=2, checkpoint_dir=str(tmp_path), checkpoint_every=1
        ).state,
        "pagerank_csr_result": lambda: csr.pagerank_csr_result(edges, max_iter=2).state,
        "connected_components_result": lambda: components.connected_components_result(
            edges
        ).state,
        "attack_percolation": lambda: percolation.attack_percolation(edges, 0.05),
        "random_percolation": lambda: percolation.random_percolation(edges, 0.05),
        "bond_percolation": lambda: percolation.bond_percolation(edges),
    }
    return calls[name]()


CASES = [
    "topic_sensitive_pagerank",
    "pagerank_trace",
    "hits_result",
    "salsa_result",
    "eigenvector_centrality",
    "nonbacktracking_centrality",
    "sybilrank",
    "heat_kernel_pagerank",
    "truncated_hitting_time",
    "fiedler_vector",
    "fiedler_vector_normalized",
    "spectral_embedding2",
    "pagerank_result",
    "pagerank_result_checkpointed",
    "pagerank_csr_result",
    "connected_components_result",
    "attack_percolation",
    "random_percolation",
    "bond_percolation",
]


def _entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.mark.parametrize("name", CASES)
def test_call_leaves_no_cache_entry(spark, rmat, tmp_path, name):
    before = _entries(spark)
    rows = _call(name, rmat, tmp_path).collect()
    assert rows
    assert _entries(spark) == before


@pytest.mark.parametrize("name", ["hits_result", "fiedler_vector"])
def test_empty_graph_leaves_no_cache_entry(spark, rmat, tmp_path, name):
    before = _entries(spark)
    assert _call(name, rmat.filter(F.lit(False)), tmp_path).collect() == []
    assert _entries(spark) == before


def test_raise_leaves_no_cache_entry(spark, rmat):
    from llama_spark.operators.pagerank import topic_sensitive_pagerank

    before = _entries(spark)
    with pytest.raises(ValueError, match="topic 2 has no seed nodes"):
        topic_sensitive_pagerank(rmat, _topic(), 3, max_iter=2)
    assert _entries(spark) == before
