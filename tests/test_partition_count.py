"""The benchmarked kernels give the same answer at any shuffle-partition
count.

``get_spark`` sizes ``spark.sql.shuffle.partitions`` to the machine
(2 × cores), and every state table, ``repartition(p, …)`` and CSR pack
reads it, so the partition count differs from one machine to the next.
Each kernel runs on two seeded R-MAT scale-8 blocks at two session
partition counts: PageRank (plain and CSR) agrees to 1e-12, connected
components exactly.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import edges_df, rmat_edges

COUNTS = (3, 16)


@pytest.fixture(scope="module")
def rmat(spark):
    """Two disjoint seeded R-MAT scale-8 blocks (ids 0..255, 1000..1255)."""
    pairs = sorted(
        {(s, d) for s, d in rmat_edges(scale=8, avg_degree=4, seed=11)}
        | {(s + 1000, d + 1000) for s, d in rmat_edges(scale=8, avg_degree=4, seed=12)}
    )
    e = edges_df(spark, pairs).persist()
    e.count()
    yield e
    e.unpersist()


def _at_each_count(spark, run):
    """{partition count: sorted rows of ``run()``}, conf restored after."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    out = {}
    try:
        for p in COUNTS:
            spark.conf.set(key, str(p))
            out[p] = sorted(tuple(r) for r in run().collect())
    finally:
        spark.conf.set(key, old)
    return out


@pytest.mark.parametrize("kernel", ["pagerank_result", "pagerank_csr_result"])
def test_pagerank_independent_of_partition_count(spark, rmat, kernel):
    from llama_spark.operators import csr, pagerank

    run = {
        "pagerank_result": lambda: pagerank.pagerank_result(rmat, max_iter=5).state,
        "pagerank_csr_result": lambda: csr.pagerank_csr_result(rmat, max_iter=5).state,
    }[kernel]
    a, b = _at_each_count(spark, run).values()
    assert [r[0] for r in a] == [r[0] for r in b]
    assert np.allclose([r[1] for r in a], [r[1] for r in b], rtol=1e-12, atol=0)


def test_connected_components_independent_of_partition_count(spark, rmat):
    from llama_spark.operators.components import connected_components_result

    a, b = _at_each_count(spark, lambda: connected_components_result(rmat).state).values()
    assert a == b
    assert len({c for _, c in a}) > 1
