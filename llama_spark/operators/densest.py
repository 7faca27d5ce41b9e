"""Densest-subgraph approximation by parallel peeling (Bahmani, Kumar,
Vassilvitskii, VLDB 2012 — "Densest Subgraph in Streaming and MapReduce").

Greedy 2(1+ε)-approximation of max_S |E(S)|/|S| on the undirected simple
graph: repeatedly delete EVERY node whose current degree is ≤ 2(1+ε)·ρ(S)
(ρ = edge density of the surviving subgraph); the best density seen over
all rounds is within 2(1+ε) of the optimum, and the number of rounds is
O(log_{1+ε} n) — the whole point of the batch-deletion rule versus
sequential Charikar peeling, which has no parallel analog (same
retire-the-sequential-loop situation as the reference's DFS template).

Dense subgraph extraction is the standard link-spam / link-farm detector
on web graphs (tightly-knit communities of mutually-linking pages), which
is why it sits beside PageRank/CC in this engine's kernel set.

Exactness across engines: the deletion test deg ≤ 2(1+ε)·e/s is evaluated
as den·s·deg ≤ num·e in integer arithmetic with 2(1+ε) = num/den — no
float threshold anywhere; both sides are cast to 38-digit decimals so a
10¹²-node graph cannot overflow the product. The only float is the
reported 6-dp density.

Scale shape per round (identical join skeleton to k_core peeling):
degree groupBy on the persisted, hash(src)-partitioned symmetric edge
set; a 1-row stats aggregate; two semi-joins against the survivor list
(broadcast once small, shuffled-hash before that). The edge set only
shrinks. O(log n) rounds total.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import DST, SRC, join_side, symmetrize

_DEC = "decimal(38,0)"


def densest_subgraph_trace(
    edges: DataFrame, eps: float = 0.5, max_rounds: int = 64
) -> tuple[DataFrame, DataFrame]:
    """Run the peeling and return ``(trace, best_nodes)``:

    trace: DataFrame[round, n_nodes, n_edges, density, is_best] — one row
    per peeling round (state BEFORE that round's deletion) while the
    subgraph is non-empty; ``density`` = n_edges/n_nodes (6 dp);
    ``is_best`` marks the max-density round (earliest on ties).

    best_nodes: DataFrame[id] — the surviving node set of the best round
    (the 2(1+ε)-approximate densest subgraph).

    ``eps`` must be exactly representable as a small rational (it is
    converted via Fraction(eps).limit_denominator(64)); the default 0.5
    gives the integer test s·deg ≤ 3·e.
    """
    frac = Fraction(2) * (1 + Fraction(eps).limit_denominator(64))
    num, den = frac.numerator, frac.denominator

    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = symmetrize(edges).repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    und_rows = und.count()
    und_is_persisted = True

    trace_rows: list[tuple[int, int, int, float]] = []
    best: tuple[float, int] | None = None  # (density, round)
    best_nodes: DataFrame | None = None

    for r in range(max_rounds + 1):
        if und_rows == 0:
            break
        deg = und.groupBy(SRC).agg(F.count("*").alias("d"))
        deg = deg.persist(StorageLevel.MEMORY_AND_DISK)
        row = deg.agg(
            F.count("*").alias("s"), F.sum("d").alias("sum_d")
        ).collect()[0]
        s, e = int(row["s"]), int(row["sum_d"]) // 2
        density = e / s
        trace_rows.append((r, s, e, density))
        if best is None or density > best[0]:
            best = (density, r)
            if best_nodes is not None:
                best_nodes.unpersist()
            best_nodes = (
                deg.select(F.col(SRC).alias("id"))
                .localCheckpoint(eager=True)
            )
        if r == max_rounds:
            deg.unpersist()
            break
        # delete every node with den·s·deg <= num·e (exact integers)
        keep = deg.filter(
            F.lit(den * s).cast(_DEC) * F.col("d").cast(_DEC)
            > F.lit(num).cast(_DEC) * F.lit(e).cast(_DEC)
        ).select(SRC)
        pruned = und.join(join_side(keep, und_rows), SRC, "left_semi").join(
            join_side(keep.withColumnRenamed(SRC, DST), und_rows), DST, "left_semi"
        )
        if r % 4 == 3:
            pruned = pruned.localCheckpoint(eager=True)
            pruned_is_persisted = False
        else:
            pruned = pruned.persist(StorageLevel.MEMORY_AND_DISK)
            pruned_is_persisted = True
        m = pruned.count()
        deg.unpersist()
        if und_is_persisted:
            und.unpersist()
        und, und_rows, und_is_persisted = pruned, m, pruned_is_persisted

    if und_is_persisted:
        und.unpersist()

    best_round = best[1] if best is not None else -1
    # density is rounded ENGINE-side (Spark HALF_UP == DuckDB ROUND), not
    # with Python's banker's round — the one driver-side float (the
    # argmax pick) compares RAW IEEE doubles, identical on both engines
    trace = spark.createDataFrame(
        [(r, s, e, r == best_round) for (r, s, e, _d) in trace_rows],
        "round long, n_nodes long, n_edges long, is_best boolean",
    ).select(
        "round",
        "n_nodes",
        "n_edges",
        F.round(F.col("n_edges") / F.col("n_nodes"), 6).alias("density"),
        "is_best",
    )
    if best_nodes is None:
        best_nodes = spark.createDataFrame([], "id long")
    return trace, best_nodes


def densest_subgraph(edges: DataFrame, eps: float = 0.5) -> DataFrame:
    """DataFrame[id] — the node set of the best peeling round."""
    _trace, nodes = densest_subgraph_trace(edges, eps=eps)
    return nodes
