"""Heat-kernel PageRank — truncated-Taylor diffusion over the walk matrix.

Chung's heat-kernel pagerank (PNAS 2007): h = Σ_k e^{-t} t^k/k! · (Pᵀ)^k s,
the continuous-time analog of the power-iteration family LLAMA's pagerank
kernel implements (benchmark/benchmarks/pagerank.h:240-300) — same
per-iteration sparse gather over out-edges, but the per-round results are
*accumulated* with Poisson weights instead of damped-replaced. Both engines
compute the identical K-term truncation, so the gate compare is exact by
construction (no convergence-tolerance ambiguity).

Spark plan: the same cached hash(src)-partitioned inverse-degree edge
table the pagerank kernel streams — only the K-row state vector shuffles
per step; the Poisson coefficients are Python-float literals shared with
the oracle SQL. Dangling mass is lost, matching the reference pagerank
convention (pagerank.h:287-288).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, join_side, nodes_of
from ..plans.fixpoint import iterate, rounds


def heat_coefficients(t: float, taylor_k: int) -> list[float]:
    """Poisson weights e^{-t} t^k/k!, k = 0..K — shared Spark/oracle
    literals (both sides embed the same Python doubles)."""
    return [math.exp(-t) * t**k / math.factorial(k) for k in range(taylor_k + 1)]


def heat_kernel_pagerank(
    edges: DataFrame, t: float = 3.0, taylor_k: int = 6
) -> DataFrame:
    """DataFrame[id, heat_scaled] — heat-kernel rank ×N, rounded 6 dp.

    x_0 = uniform 1/N; x_{k+1}(v) = Σ_{u→v} x_k(u)/outdeg(u);
    h = Σ_{k=0..K} e^{-t} t^k/k! · x_k. One job per Taylor term, each the
    same edges⨝state shuffled-hash join as a pagerank iteration.
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        nodes, n = r.keep(nodes_of(edges).repartition(p, "id"))
        if n == 0:
            return nodes.select("id", F.lit(0.0).alias("heat_scaled"))

        outdeg = edges.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("od"))
        # per-edge share factor precomputed once; cached hash(src) so the
        # per-term join streams it without re-exchange (pagerank plan shape)
        ew, _ = r.keep(
            edges.join(outdeg, edges[SRC] == outdeg["id"])
            .select(edges[SRC], edges[DST], (F.lit(1.0) / F.col("od")).alias("share"))
            .repartition(p, SRC)
        )

        coef = heat_coefficients(t, taylor_k)
        state = nodes.select(
            "id", F.lit(1.0 / n).alias("x"), F.lit(coef[0] / n).alias("h")
        )
        for k in range(1, taylor_k + 1):
            contrib = (
                ew.join(state.select(F.col("id").alias(SRC), "x"), SRC)
                .groupBy(F.col(DST).alias("id"))
                .agg(F.sum(F.col("x") * F.col("share")).alias("nx"))
            )
            state, _ = r.materialize(
                state.join(contrib, "id", "left").select(
                    "id",
                    F.coalesce(F.col("nx"), F.lit(0.0)).alias("x"),
                    (
                        F.col("h") + F.lit(coef[k]) * F.coalesce(F.col("nx"), F.lit(0.0))
                    ).alias("h"),
                )
            )
        return state.select(
            "id", F.round(F.col("h") * F.lit(float(n)), 6).alias("heat_scaled")
        ).localCheckpoint(eager=True)


def truncated_hitting_time(
    edges: DataFrame,
    seeds: list[int],
    horizon: int = 8,
    weight_col: str | None = None,
) -> DataFrame:
    """Truncated hitting time (Sarkar & Moore, UAI 2007) — DataFrame[id,
    hitting]: the expected number of random-walk steps from each node to
    the FIRST visit of any seed, truncated at ``horizon`` — i.e.
    E[min(τ_S, horizon)] exactly (walks not arrived by the horizon count
    as exactly ``horizon``; a walk stuck on a dangling node likewise).
    The classic random-walk proximity for link prediction and
    trusted-set distance — the absorbing-walk companion of spam_mass's
    TrustRank (same seed-set semantics) and of personalized PageRank
    (which discounts by damping where this one counts steps).

    Exact finite recursion (the time-decreasing horizon is implicit):
    g_0 = 0 everywhere; g_k(v) = 0 on S, else 1 + Σ_u P(v,u)·g_{k-1}(u)
    with P the out-degree-uniform walk matrix and a dangling node falling
    back to its OWN g_{k-1} (stuck walk: g_k = k). g_k is then exactly
    E[min(τ_S, k)] — no cap operator needed (g_k ≤ k holds inductively).
    NOTE: a value-level cap h = min(T, 1+Ph) iterated to fixpoint is NOT
    this quantity (it over-counts looping mass); the horizon must decay
    with the recursion depth, which the g_k indexing provides.

    Plan: same shape as the pagerank kernel but gathered on SRC — the
    per-edge 1/out-degree factor table is built once, cached
    hash-partitioned on DST (the join key), and only the V-row state
    shuffles per step; the loop runs through plans/fixpoint.iterate, so
    the state stays persisted/partitioned between lineage truncations and
    each step costs ONE Spark job. Reference parity: the same
    vertex-centric fixpoint loop as benchmark/benchmarks/pagerank.h,
    absorbing variant."""
    if not seeds:
        raise ValueError("seeds must be non-empty")
    seeds = sorted(set(seeds))
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        nodes, n = r.keep(nodes_of(edges).repartition(p, "id"))
        if n == 0:
            return nodes.select("id", F.lit(0.0).alias("hitting"))

        # walk matrix: uniform 1/outdeg, or weight-proportional w/Σ_out w when
        # weight_col is given (the weighted-walk variant — same recursion, the
        # step distribution follows edge weights, ll_load_utils.h:1076-1090)
        wexpr = (
            F.col(weight_col).cast("double")
            if weight_col is not None
            else F.lit(1.0)
        )
        e = edges.select(SRC, DST, wexpr.alias("_w"))
        out_w = e.groupBy(SRC).agg(F.sum("_w").alias("ow"))
        ew, _ = r.keep(
            e.join(out_w, SRC)
            .select(SRC, DST, (F.col("_w") / F.col("ow")).alias("inv"))
            .repartition(p, DST)
        )

        is_seed = F.col("id").isin(seeds)

        def step(h: DataFrame, _i: int) -> DataFrame:
            gathered = (
                join_side(h, n).join(ew, h["id"] == ew[DST])
                .select(F.col(SRC).alias("id"), (F.col("inv") * F.col("h")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("s"))
            )
            return (
                h.select("id", F.col("h").alias("_hp"))
                .join(join_side(gathered, n), "id", "left")
                .select(
                    "id",
                    F.when(is_seed, F.lit(0.0))
                    .otherwise(F.lit(1.0) + F.coalesce("s", F.col("_hp")))
                    .alias("h"),
                )
            )

        result = iterate(
            nodes.select("id", F.lit(0.0).alias("h")),
            step,
            max_iter=horizon,
            name="hitting_time",
        )
        return result.state.select("id", F.col("h").alias("hitting"))


def trophic_levels(
    edges: DataFrame,
    weight_col: str | None = None,
    max_iter: int = 12,
    omega: float = 0.5,
) -> DataFrame:
    """Trophic levels (MacKay, Johnson & Jones, PNAS 2020 — "How directed
    is a directed network?") — DataFrame[id, level]: the height function h
    minimizing Σ w_uv (h_v − h_u − 1)², i.e. the best assignment of
    "hierarchy depth" such that every edge points one level up. The
    food-web trophic-level generalization that is defined on ANY weakly
    connected digraph (no basal-node requirement), and for a web link
    graph the canonical "how hierarchical is the crawl" coordinate —
    edges from h≈x to h≈x+1 are hierarchy-respecting, edges against the
    gradient are the incoherent ones.

    Normal equations Λh = v with Λ = diag(d) − A − Aᵀ, d = in_w + out_w,
    v = in_w − out_w, solved by ``max_iter`` damped-Jacobi sweeps from
    h₀ = 0 (ω-damping keeps every non-constant mode contracting —
    |1−ω+ωλ| < 1 for λ ∈ [−1,1) — where plain Jacobi oscillates on
    near-bipartite structure). h is determined only up to an additive
    constant per weak component (the Laplacian nullspace); this returns
    the raw K-th iterate — deterministic and engine-replicable — so
    compare DIFFERENCES h_v − h_u, not absolute values.

    Plan: one symmetrized weighted gather table (A+Aᵀ rows), persisted
    hash-partitioned on the gather key; per sweep one join + groupBy with
    only the V-row state shuffling, through plans/fixpoint.iterate (one
    job per sweep). Same audited shape as the pagerank kernel.
    Reference parity: vertex-centric fixpoint loop family
    (benchmark/benchmarks/pagerank.h)."""
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(SRC, DST, w.alias("_w"))
    sym = e.unionByName(
        e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "_w")
    )
    with rounds() as r:
        # per-node denominator d = in_w + out_w and numerator base v = in_w - out_w
        base, n = r.keep(
            e.select(F.col(DST).alias("id"), F.col("_w").alias("iw"), F.lit(0.0).alias("ow"))
            .unionByName(
                e.select(F.col(SRC).alias("id"), F.lit(0.0).alias("iw"), F.col("_w").alias("ow"))
            )
            .groupBy("id")
            .agg(
                (F.sum("iw") + F.sum("ow")).alias("d"),
                (F.sum("iw") - F.sum("ow")).alias("v"),
            )
            .repartition(p, "id")
        )
        gather, _ = r.keep(sym.select(SRC, DST, "_w").repartition(p, SRC))

        # d and v are per-node CONSTANTS — carry them in the iterate state
        # (the pagerank/fiedler convention) so each sweep joins only the
        # gathered sum: drops the fixed-table join and the second broadcast
        # build of h per sweep (same arithmetic, same operand order).
        def step(h: DataFrame, _i: int) -> DataFrame:
            s = (
                join_side(h.select("id", "h"), n).join(gather, h["id"] == gather[SRC])
                .select(F.col(DST).alias("id"), (F.col("_w") * F.col("h")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("s"))
            )
            return h.join(join_side(s, n), "id", "left").select(
                "id",
                "d",
                "v",
                (
                    F.lit(1.0 - omega) * F.col("h")
                    + F.lit(omega)
                    * (F.col("v") + F.coalesce("s", F.lit(0.0)))
                    / F.col("d")
                ).alias("h"),
            )

        result = iterate(
            base.select("id", "d", "v", F.lit(0.0).alias("h")),
            step,
            max_iter=max_iter,
            name="trophic_levels",
        )
        return result.state.select("id", F.col("h").alias("level"))


def trophic_incoherence(
    edges: DataFrame,
    weight_col: str | None = None,
    max_iter: int = 12,
    omega: float = 0.5,
) -> DataFrame:
    """Trophic incoherence F₀ (MacKay, Johnson & Jones, PNAS 2020) — a
    1-row DataFrame[f0]: the paper's headline "how directed is this
    network" scalar, F₀ = Σ w_uv (h_v − h_u − 1)² / Σ w_uv evaluated at
    the :func:`trophic_levels` height field. 0 = perfectly coherent
    hierarchy (every edge climbs exactly one level, e.g. a DAG of
    layers); 1 = the incoherence of a fully undirected/cyclic tangle.
    F₀ only involves height DIFFERENCES, so the per-component free
    constant in h cancels and the scalar is well-defined at any iterate.

    Computed at the same deterministic damped-Jacobi iterate as the gate
    (document: at iterate K, an upper bound that decreases toward the
    true F₀ as K grows). One extra broadcast-join pass over the edge
    table after the sweeps."""
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(SRC, DST, w.alias("_w"))
    h = trophic_levels(
        edges, weight_col=weight_col, max_iter=max_iter, omega=omega
    )
    hu = h.select(F.col("id").alias(SRC), F.col("level").alias("_hu"))
    hv = h.select(F.col("id").alias(DST), F.col("level").alias("_hv"))
    gap = F.col("_hv") - F.col("_hu") - F.lit(1.0)
    return (
        e.join(hu, SRC)
        .join(hv, DST)
        .agg(
            (F.sum(F.col("_w") * gap * gap) / F.sum("_w")).alias("f0")
        )
    )
