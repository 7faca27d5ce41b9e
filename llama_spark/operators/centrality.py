"""Katz and eigenvector centrality — the remaining two classic
link-analysis scores next to PageRank (operators/pagerank.py) and HITS
(operators/hits.py); same gather shape, different recurrences:

    katz:        x'(v) = beta + alpha * Σ_{u→v} x(u)        (no normalize)
    eigenvector: x'(v) = Σ_{u→v} x(u) / L1-total             (power method)

Spark plan per iteration (pagerank.py policy): the edge table is cached
hash-partitioned by ``src`` and STREAMED; only the V-row score vector
shuffles. Katz's state is referenced ONCE per step, so it rides the
shared fixpoint driver; eigenvector's raw gather is referenced twice
(values + L1 total), so it is persisted per iteration — the round-5 HITS
lesson (an un-persisted frame referenced ≥2× in an iterative plan makes
plan cost exponential in depth).

Eigenvector on a DAG decays to zero (sources get no in-mass and the
power method has no teleport); when an iteration's total mass is 0 the
whole vector collapses to exact 0.0 rather than dividing by zero — the
same CASE guards the SQL oracle, keeping NaN out of both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import DST, SRC, join_side, nodes_of
from ..plans.fixpoint import FixpointResult, iterate, rounds


def _distinct_edges(edges: DataFrame, p: int) -> DataFrame:
    return edges.select(SRC, DST).distinct().repartition(p, SRC)


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.05,
    beta: float = 1.0,
    max_iter: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[id, katz] after ``max_iter`` fixed iterations from
    x0 = beta (converges for alpha < 1/λ_max; the conservative default
    0.05 covers any graph with max in-degree < 20/α)."""
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        nodes, n = r.keep(nodes_of(edges).repartition(p, "id"))
        if n == 0:
            return nodes.select("id", F.lit(0.0).alias("katz"))
        e, _ = r.keep(_distinct_edges(edges, p))

        init = nodes.select("id", F.lit(beta).alias("x"))

        def step(state: DataFrame, i: int) -> DataFrame:
            contrib = (
                e.join(join_side(state.select(F.col("id").alias(SRC), "x"), n), SRC)
                .groupBy(F.col(DST).alias("id"))
                .agg(F.sum("x").alias("s"))
            )
            return nodes.join(contrib, "id", "left").select(
                "id",
                (
                    F.lit(beta) + F.lit(alpha) * F.coalesce("s", F.lit(0.0))
                ).alias("x"),
            )

        res = iterate(init, step, max_iter=max_iter, name="katz")
        return res.state.select("id", F.col("x").alias("katz"))


def eigenvector_centrality(
    edges: DataFrame,
    max_iter: int = 8,
    num_partitions: int | None = None,
) -> FixpointResult:
    """Power iteration with L1 normalization → FixpointResult whose state
    is DataFrame[id, score] (Σ score = 1 on any graph with a recurrent
    in-component; exact 0s on a DAG once the mass drains)."""
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        nodes, n = r.keep(nodes_of(edges).repartition(p, "id"))
        if n == 0:
            empty = nodes.select("id", F.lit(0.0).alias("score"))
            return FixpointResult(
                state=empty, iterations=0, converged=True, metrics=[], n_nodes=0
            )
        e, _ = r.keep(_distinct_edges(edges, p))

        state, _ = r.start(nodes.select("id", F.lit(1.0 / n).alias("score")))
        for _ in range(max_iter):
            raw = r.cache(
                e.join(join_side(state.select(F.col("id").alias(SRC), "score"), n), SRC)
                .groupBy(F.col(DST).alias("id"))
                .agg(F.sum("score").alias("s"))
            )
            tot = raw.agg(F.sum("s").alias("t"))
            state, _ = r.materialize(
                nodes.join(raw, "id", "left")
                .crossJoin(F.broadcast(tot))
                .select(
                    "id",
                    F.when(
                        F.col("t") > 0.0,
                        F.coalesce("s", F.lit(0.0)) / F.col("t"),
                    )
                    .otherwise(F.lit(0.0))
                    .alias("score"),
                )
            )
        return FixpointResult(
            state=state,
            iterations=max_iter,
            converged=True,
            metrics=r.metrics,
            n_nodes=n,
        )


def nonbacktracking_centrality(
    edges: DataFrame,
    max_iter: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Non-backtracking centrality (Martin, Zhang & Newman, PRE 2014) —
    DataFrame[id, nbc]: power iteration of the Hashimoto matrix B over
    EDGE states,

        x'_{(u,v)} = Σ_{(w,u), w≠v} x_{(w,u)}
                   = (Σ into u) − x_{(v,u)},

    then node score = Σ of incoming edge states. The walk may not
    immediately reverse the edge it arrived on, which removes the
    hub-localization failure of plain eigenvector centrality (a hub's
    mass cannot slosh back and forth across one spoke).

    EXACT BIGINT: B is a 0/1 matrix and x₀ = 1, so every iterate is an
    integer — sums of longs are order-independent, making the gate
    hash-exact with no rounding or normalization ambiguity. Magnitudes
    grow like λ_B^K (λ_B ≤ max in-degree); the default K=6 keeps any
    graph with λ_B < 1350 inside int64 — raise K only with that bound in
    mind (the sf0.1 gate graph's λ_B ≈ 140 allows K ≤ 8).

    Plan: an edge-state kernel by nature — the 2|E|-row state shuffles
    twice per step (the into-u gather keyed by dst, then the reverse-edge
    lookup keyed by (src,dst)); the edge table itself is cached once and
    streamed. Nodes with no in-edges have no incoming state and are
    absent from the output (same convention as the SQL oracle).
    Reference parity: vertex-centric fixpoint family
    (benchmark/benchmarks/pagerank.h), lifted to the directed-edge
    double cover."""
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        e, _ = r.keep(_distinct_edges(edges, p))

        def step(state: DataFrame, _i: int) -> DataFrame:
            into = (
                state.groupBy(F.col(DST).alias("_u"))
                .agg(F.sum("x").alias("_t"))
            )
            rev = state.select(
                F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col("x").alias("_xr")
            )
            return (
                e.join(into, e[SRC] == F.col("_u"), "left")
                .drop("_u")
                .join(rev, [SRC, DST], "left")
                .select(
                    SRC,
                    DST,
                    (
                        F.coalesce("_t", F.lit(0).cast("long"))
                        - F.coalesce("_xr", F.lit(0).cast("long"))
                    ).alias("x"),
                )
            )

        result = iterate(
            e.select(SRC, DST, F.lit(1).cast("long").alias("x")),
            step,
            max_iter=max_iter,
            name="nonbacktracking",
        )
        return (
            result.state.groupBy(F.col(DST).alias("id"))
            .agg(F.sum("x").alias("nbc"))
            .localCheckpoint(eager=True)
        )


def collective_influence(
    edges: DataFrame,
    radius: int = 2,
    num_partitions: int | None = None,
) -> DataFrame:
    """Collective Influence (Morone & Makse, Nature 2015) —
    DataFrame[id, ci]: CI_ℓ(v) = (deg v − 1) · Σ_{u ∈ ∂Ball(v,ℓ)} (deg u − 1)
    over the undirected simple graph, the optimal-percolation influence
    score: high-CI nodes are the ones whose removal fragments the giant
    component fastest (weak hubs bridging hub clusters outrank raw
    degree). ``radius`` ∈ {1, 2}; the frontier ∂Ball is the set of nodes
    at EXACTLY distance ℓ (distance-2 = neighbors-of-neighbors minus
    direct neighbors minus self, each counted once).

    EXACT BIGINT (degrees are counts), so the gate is hash-exact. The
    ℓ=2 expansion is one und⨝und self-join — the same Σ deg² cost class
    as triangle counting, with the same 100-TB answer (degree-ordered /
    hub-capped variants) if a graph's hubs make it the bottleneck.
    Reference parity: degree-property scans (ll_mlcsr_sp.h degree
    tables) composed with the common-neighbor join the triangle
    benchmarks use (benchmark/benchmarks/tc_*)."""
    from ..graph import symmetrize

    if radius not in (1, 2):
        raise ValueError(f"radius must be 1 or 2, got {radius}")
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = (
        symmetrize(edges).repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    )
    und.count()
    deg = und.groupBy(F.col(SRC).alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    )
    if radius == 1:
        shell = und.select(F.col(SRC).alias("v"), F.col(DST).alias("w"))
    else:
        hop2 = (
            und.select(F.col(SRC).alias("v"), F.col(DST).alias("_m"))
            .join(
                und.select(F.col(SRC).alias("_m"), F.col(DST).alias("w")), "_m"
            )
            .select("v", "w")
            .filter(F.col("v") != F.col("w"))
            .distinct()
        )
        shell = hop2.join(
            und.select(F.col(SRC).alias("v"), F.col(DST).alias("w")),
            ["v", "w"],
            "left_anti",
        )
    ball = shell.join(deg.select(F.col("id").alias("w"), F.col("deg").alias("_dw")), "w")
    acc = ball.groupBy(F.col("v").alias("id")).agg(
        F.sum(F.col("_dw") - F.lit(1)).alias("_s")
    )
    out = deg.join(acc, "id", "left").select(
        "id",
        ((F.col("deg") - F.lit(1)) * F.coalesce("_s", F.lit(0))).alias("ci"),
    ).localCheckpoint(eager=True)
    und.unpersist()
    return out
