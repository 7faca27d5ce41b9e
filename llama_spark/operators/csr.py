"""Per-partition CSR packing + SpMV kernels (Arrow/pandas fast path).

Mirrors LLAMA's storage split — vertex table {adj_list_start, degree}
(ll_mlcsr_helpers.h:141-149) + flat edge table (ll_edge_table.h:54-57) —
as one row per partition: struct<node_ids: array<long>, indptr: array<long>,
indices: array<long>>. Arrow ListArrays ARE the CSR arrays, so pack/unpack
is zero-copy-ish through the Arrow boundary.

Partitioning: node n lives in partition pmod(xxhash64(n), P) — the same
function the ranks DataFrame uses, so the per-iteration cogroup only
shuffles the (small) rank vector, never the packed adjacency.

``pagerank_csr`` is the gather-scatter (SpMV) execution of the identical
recurrence as operators/pagerank.py: inside each partition numpy computes
edge contributions rank[src]/out_deg[src] and **pre-aggregates by dst**
(map-side combine in C), emitting one (dst, partial) row per distinct dst
per partition; the shuffle then sums P partials per node instead of one row
per edge — the explicit skew treatment for hub dst nodes the north rule
demands (a hub receives ≤ P rows regardless of in-degree).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, nodes_of
from ..plans.fixpoint import FixpointResult, iterate, rounds

CSR_SCHEMA = (
    "part int, node_ids array<long>, indptr array<long>, indices array<long>"
)


def pack_csr(edges: DataFrame, num_parts: int | None = None) -> DataFrame:
    """edges[src, dst] → one CSR struct row per partition (sorted adjacency,
    matching the reference's load-time external sort, ll_load_utils.h:464)."""
    spark = edges.sparkSession
    p = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([SRC, DST], kind="mergesort")
        srcs = pdf[SRC].to_numpy()
        node_ids, counts = np.unique(srcs, return_counts=True)
        indptr = np.concatenate(([0], np.cumsum(counts)))
        return pd.DataFrame(
            {
                "part": [int(key[0])],
                "node_ids": [node_ids],
                "indptr": [indptr],
                "indices": [pdf[DST].to_numpy()],
            }
        )

    with_part = edges.withColumn(
        "part", F.pmod(F.xxhash64(F.col(SRC)), F.lit(p)).cast("int")
    )
    return with_part.groupBy("part").applyInPandas(build, schema=CSR_SCHEMA)


def unpack_csr(csr: DataFrame) -> DataFrame:
    """Inverse of pack_csr → edges[src, dst] (round-trip tested)."""
    def explode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for _, row in pdf.iterrows():
                node_ids = np.asarray(row["node_ids"])
                indptr = np.asarray(row["indptr"])
                indices = np.asarray(row["indices"])
                src = np.repeat(node_ids, np.diff(indptr))
                yield pd.DataFrame({SRC: src, DST: indices})

    return csr.mapInPandas(explode, schema=f"{SRC} long, {DST} long")


def pagerank_csr(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 10,
    num_parts: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    return pagerank_csr_result(
        edges,
        damping=damping,
        max_iter=max_iter,
        num_parts=num_parts,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
    ).state


def pagerank_csr_result(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 10,
    num_parts: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> FixpointResult:
    """PageRank over packed CSR partitions — identical recurrence to
    operators/pagerank.py (pagerank.h:159-166), SpMV execution."""
    spark = edges.sparkSession
    p = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))

    def gather_scatter(
        key: tuple, csr_pdf: pd.DataFrame, ranks_pdf: pd.DataFrame
    ) -> pd.DataFrame:
        if csr_pdf.empty or ranks_pdf.empty:
            return pd.DataFrame({"id": np.array([], dtype=np.int64),
                                 "partial": np.array([], dtype=np.float64)})
        rank_ids = ranks_pdf["id"].to_numpy()
        ranks = ranks_pdf["rank"].to_numpy()
        order = np.argsort(rank_ids, kind="mergesort")
        rank_ids, ranks = rank_ids[order], ranks[order]
        outs = []
        for _, row in csr_pdf.iterrows():
            node_ids = np.asarray(row["node_ids"], dtype=np.int64)
            indptr = np.asarray(row["indptr"], dtype=np.int64)
            indices = np.asarray(row["indices"], dtype=np.int64)
            deg = np.diff(indptr)
            pos = np.searchsorted(rank_ids, node_ids)
            per_node = ranks[pos] / deg  # rank[src]/out_deg[src]
            per_edge = np.repeat(per_node, deg)
            # map-side combine: one partial per distinct dst in this partition
            dst_u, inv = np.unique(indices, return_inverse=True)
            partial = np.bincount(inv, weights=per_edge)
            outs.append(pd.DataFrame({"id": dst_u, "partial": partial}))
        return pd.concat(outs, ignore_index=True)

    with rounds() as r:
        # cache the packed CSR BEHIND an explicit hash(part) exchange:
        # FlatMapGroupsInPandas output reports UnknownPartitioning, so without
        # it every iteration's cogroup re-exchanges the cached E-scale CSR
        # arrays (measured: one Exchange over the blobs per step); with it the
        # cached plan's HashPartitioning(part, p) satisfies the cogroup's
        # clustered-distribution requirement and only the V-row rank vector
        # shuffles per step (the one-time exchange moves p fat rows once)
        csr, _ = r.keep(pack_csr(edges, p).repartition(p, "part"))
        nodes, n = r.keep(nodes_of(edges))
        if n == 0:
            return FixpointResult(
                state=nodes.select("id", F.lit(0.0).alias("rank")),
                iterations=0,
                converged=True,
            )
        base = (1.0 - damping) / n

        csr_grouped = csr.groupBy("part")
        init = nodes.select("id", F.lit(1.0 / n).alias("rank"))

        def step(ranks: DataFrame, _i: int) -> DataFrame:
            ranks_k = ranks.withColumn(
                "part", F.pmod(F.xxhash64(F.col("id")), F.lit(p)).cast("int")
            )
            partials = csr_grouped.cogroup(ranks_k.groupBy("part")).applyInPandas(
                gather_scatter, schema="id long, partial double"
            )
            contribs = partials.groupBy("id").agg(F.sum("partial").alias("contrib"))
            return nodes.join(contribs, "id", "left").select(
                "id",
                (F.lit(base) + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))).alias(
                    "rank"
                ),
            )

        return iterate(
            init,
            step,
            max_iter=max_iter,
            checkpoint_dir=checkpoint_dir,
            resume=resume,
            name="pagerank_csr",
        )
