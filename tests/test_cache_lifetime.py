"""No operator call leaves a live cache entry behind.

Each case records the session CacheManager's entry count, runs one entry
point on a seeded R-MAT scale-8 graph, consumes the result and checks the
count is back where it started. ``unpersist`` drops the entry at once, so
no GC is needed. Covered: the power-iteration, peeling and traversal
families that run on ``plans/fixpoint.rounds`` (including their
empty-graph, self-loop, no-path and raise paths), the three benchmarked
kernels, a durable-checkpoint PageRank run, the percolation census, whose
callers own the edge table they persist, collective influence, and a
caller's own entry for a plan a scope also caches, which the scope must
leave in place.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from tests.conftest import CHAIN10, K3, edges_df, rmat_edges


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
    from llama_spark.graph import with_synthetic_weights
    from llama_spark.operators import (
        anf,
        bc,
        bowtie,
        bridges,
        centrality,
        coloring,
        components,
        csr,
        diffusion,
        flow,
        hits,
        matching,
        mis,
        mst,
        pagerank,
        percolation,
        scc,
        spectral,
        traversal,
        trust,
    )

    weighted = with_synthetic_weights(edges)

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
        "collective_influence": lambda: centrality.collective_influence(edges),
        "maximal_independent_set": lambda: mis.maximal_independent_set(edges),
        "maximal_matching": lambda: matching.maximal_matching(edges),
        "maximal_weight_matching": lambda: matching.maximal_weight_matching(
            with_synthetic_weights(edges)
        ),
        "vertex_cover": lambda: matching.vertex_cover(edges),
        # scale 8 takes ~430 jobs to color; a hand graph covers the same path
        "greedy_coloring": lambda: coloring.greedy_coloring(
            edges_df(edges.sparkSession, K3 + [(s + 3, d + 3) for s, d in CHAIN10])
        ),
        "minimum_spanning_forest": lambda: mst.minimum_spanning_forest(
            with_synthetic_weights(edges)
        ),
        "strongly_connected_components": lambda: scc.strongly_connected_components(
            edges
        ),
        "condensation_levels": lambda: scc.condensation_levels(edges),
        "bowtie_decomposition": lambda: bowtie.bowtie_decomposition(edges),
        "sssp": lambda: traversal.sssp(edges, root=_seeds(edges)[0]),
        "sssp_weighted": lambda: traversal.sssp(
            weighted, root=_seeds(edges)[0], weight_col="weight"
        ),
        "multi_source_bfs_depths": lambda: traversal.multi_source_bfs_depths(
            edges, _seeds(edges)
        ),
        "multi_source_sssp": lambda: traversal.multi_source_sssp(weighted, _seeds(edges)),
        "widest_paths": lambda: traversal.widest_paths(weighted, root=_seeds(edges)[0]),
        "landmark_distances": lambda: traversal.landmark_distances(edges, k_landmarks=2),
        "global_efficiency": lambda: traversal.global_efficiency(edges, _seeds(edges)),
        "small_world_sigma": lambda: traversal.small_world_sigma(edges, _seeds(edges)),
        "betweenness_centrality": lambda: bc.betweenness_centrality(
            edges, roots=_seeds(edges)
        ),
        "edge_betweenness": lambda: bc.edge_betweenness(edges, roots=_seeds(edges)),
        "weighted_betweenness_centrality": lambda: bc.weighted_betweenness_centrality(
            weighted, _seeds(edges), max_iter=4
        ),
        "percolation_centrality": lambda: bc.percolation_centrality(
            edges, roots=_seeds(edges)
        ),
        "bfs_forest": lambda: bridges.bfs_forest(edges),
        "bridges": lambda: bridges.bridges(edges),
        "biconnected_blocks": lambda: bridges.biconnected_blocks(edges),
        "neighborhood_function": lambda: anf.neighborhood_function(edges, max_t=3),
        "hyperball_harmonic": lambda: anf.hyperball_harmonic(edges, max_t=3),
        # node 0 is the graph's smallest source id; 198 is reachable from it
        "max_flow_summary": lambda: flow.max_flow_summary(edges, 0, 198),
        "max_flow_summary_capacity": lambda: flow.max_flow_summary(
            edges.withColumn("cap", (F.col("src") + F.col("dst")) % 3 + 1),
            0,
            198,
            max_augment=1,
            capacity_col="cap",
        ),
        # no s-t path: the first residual BFS misses the sink
        "max_flow_summary_no_path": lambda: flow.max_flow_summary(edges, 198, 0),
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
    "collective_influence",
    "maximal_independent_set",
    "maximal_matching",
    "maximal_weight_matching",
    "vertex_cover",
    "greedy_coloring",
    "minimum_spanning_forest",
    "strongly_connected_components",
    "condensation_levels",
    "bowtie_decomposition",
    "sssp",
    "sssp_weighted",
    "multi_source_bfs_depths",
    "multi_source_sssp",
    "widest_paths",
    "landmark_distances",
    "global_efficiency",
    "small_world_sigma",
    "betweenness_centrality",
    "edge_betweenness",
    "weighted_betweenness_centrality",
    "percolation_centrality",
    "bfs_forest",
    "bridges",
    "biconnected_blocks",
    "neighborhood_function",
    "hyperball_harmonic",
    "max_flow_summary",
    "max_flow_summary_capacity",
    "max_flow_summary_no_path",
]


def _entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.mark.parametrize("name", CASES)
def test_call_leaves_no_cache_entry(spark, rmat, tmp_path, name):
    before = _entries(spark)
    rows = _call(name, rmat, tmp_path).collect()
    assert rows
    assert _entries(spark) == before


@pytest.mark.parametrize(
    "name",
    [
        "hits_result",
        "fiedler_vector",
        "neighborhood_function",
        "hyperball_harmonic",
        "max_flow_summary",
        "pagerank_csr_result",
        "connected_components_result",
    ],
)
def test_empty_graph_leaves_no_cache_entry(spark, rmat, tmp_path, name):
    before = _entries(spark)
    rows = _call(name, rmat.filter(F.lit(False)), tmp_path).collect()
    # max-flow's summary is one row even with no edges
    assert len(rows) == (1 if name == "max_flow_summary" else 0)
    assert _entries(spark) == before


def test_raise_leaves_no_cache_entry(spark, rmat):
    from llama_spark.operators.pagerank import topic_sensitive_pagerank

    before = _entries(spark)
    with pytest.raises(ValueError, match="topic 2 has no seed nodes"):
        topic_sensitive_pagerank(rmat, _topic(), 3, max_iter=2)
    assert _entries(spark) == before


def test_unparallel_root_weights_raise_before_any_job(spark, rmat):
    from llama_spark.operators.bc import betweenness_centrality

    sc = spark.sparkContext
    before = _entries(spark)
    sc.setJobGroup("bc_root_weights", "root_weights length check")
    try:
        with pytest.raises(ValueError, match="root_weights must be parallel to roots"):
            betweenness_centrality(rmat, roots=[0, 1], root_weights=[1.0])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("bc_root_weights") == []
    assert _entries(spark) == before


@pytest.mark.parametrize("name", ["maximal_independent_set", "maximal_matching"])
def test_self_loop_graph_leaves_no_cache_entry(spark, tmp_path, name):
    loops = edges_df(spark, [(0, 0), (1, 1), (2, 2)])
    before = _entries(spark)
    assert _call(name, loops, tmp_path).collect() == []
    assert _entries(spark) == before


@pytest.mark.parametrize(
    "name, match",
    [
        ("maximal_independent_set", "MIS did not stabilize"),
        ("strongly_connected_components", "forward coloring did not converge"),
        ("greedy_coloring", "greedy_coloring did not finish"),
    ],
)
def test_peeling_raise_leaves_no_cache_entry(spark, rmat, name, match):
    from llama_spark.operators.coloring import greedy_coloring
    from llama_spark.operators.mis import maximal_independent_set
    from llama_spark.operators.scc import strongly_connected_components

    calls = {
        "maximal_independent_set": lambda: maximal_independent_set(rmat, max_rounds=1),
        "strongly_connected_components": lambda: strongly_connected_components(
            rmat, max_prop_iters=1
        ),
        "greedy_coloring": lambda: greedy_coloring(rmat, max_rounds=1),
    }
    before = _entries(spark)
    with pytest.raises(RuntimeError, match=match):
        calls[name]()
    assert _entries(spark) == before


def test_scope_leaves_callers_entry_for_the_same_plan(spark, rmat):
    """The CacheManager keeps one entry per plan: the caller's cached node
    table is the very entry ``pagerank_result``'s scope would cache, so
    the scope must read it and leave it to the caller."""
    from llama_spark.graph import nodes_of
    from llama_spark.operators.pagerank import pagerank_result

    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    mine = nodes_of(rmat).repartition(p, "id").persist()
    mine.count()
    before = _entries(spark)
    assert pagerank_result(rmat, max_iter=2).state.collect()
    assert _entries(spark) == before
    assert mine.storageLevel != StorageLevel.NONE
    mine.unpersist()
