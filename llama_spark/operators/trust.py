"""TrustRank and spam mass — the anti-spam ranking pair for web graphs.

TrustRank (Gyöngyi, Garcia-Molina, Pedersen, "Combating Web Spam with
TrustRank", VLDB 2004) is PageRank with the teleport vector restricted
to a hand-verified trusted seed set: trust flows out of the seeds along
links, attenuated by the damping factor, so pages far from any trusted
page score near zero even when raw PageRank likes them.

Spam mass (Gyöngyi, Berkhin, Garcia-Molina, Pedersen, "Link Spam
Detection Based on Mass Estimation", VLDB 2006): the fraction of a
page's PageRank that does NOT come through the trusted core —

    relative_mass(v) = (PR(v) − TR(v)) / PR(v)

with PR and TR both normalized to sum 1 over the node set. Pages whose
rank is mostly spam-supported score near 1; pages inside the trusted
flow score near (or below) 0.

Both rankings reuse the audited PageRank kernels (operators/pagerank.py)
— same damping, same iteration count, same dangling handling — so the
difference is exactly the teleport vector, which is the paper's
definition. One extra V-row join computes the mass; nothing new
shuffles. The reference ships the PageRank kernel this builds on
(benchmark/benchmarks/pagerank.h); the trust pair is the composition a
link-spam pipeline runs it for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pagerank import pagerank_result, personalized_pagerank_result


def trustrank(
    edges: DataFrame,
    seeds: list[int],
    damping: float = 0.85,
    max_iter: int = 10,
) -> DataFrame:
    """DataFrame[id, trust] — biased PageRank with teleport uniform over
    ``seeds`` (must all exist in the graph; raises otherwise)."""
    res = personalized_pagerank_result(
        edges, sources=seeds, damping=damping, max_iter=max_iter
    )
    return res.state.select("id", F.col("rank").alias("trust"))


def spam_mass(
    edges: DataFrame,
    seeds: list[int],
    damping: float = 0.85,
    max_iter: int = 10,
) -> DataFrame:
    """DataFrame[id, pr_scaled, trust_scaled, rel_mass] — relative spam
    mass per node: (PR − TR)/PR with both vectors as distributed (sum-1)
    ranks. pr/trust are returned ×N (the O(1) gate scaling convention)
    and all three columns round to 6 dp."""
    # PageRank and TrustRank are independent power iterations — overlap
    # their job chains from driver threads (plans/overlap.py); results are
    # the same two checkpointed vectors, combined by the unchanged plan
    from ..plans.overlap import run_concurrent

    pr, tr = run_concurrent(
        lambda: pagerank_result(edges, damping=damping, max_iter=max_iter),
        lambda: personalized_pagerank_result(
            edges, sources=seeds, damping=damping, max_iter=max_iter
        ),
    )
    n = float(pr.n_nodes or pr.state.count())
    p = pr.state.select("id", F.col("rank").alias("_pr"))
    t = tr.state.select("id", F.col("rank").alias("_tr"))
    # rel_mass divides the ALREADY-6dp-ROUNDED scaled ranks: the rounded
    # values are the gate-proven cross-engine-identical quantities, so the
    # quotient is bit-identical in both engines (dividing the raw doubles
    # would amplify last-ulp accumulation noise exactly where PR ≈ TR)
    scaled = p.join(t, "id").select(
        "id",
        F.round(F.col("_pr") * F.lit(n), 6).alias("pr_scaled"),
        F.round(F.col("_tr") * F.lit(n), 6).alias("trust_scaled"),
    )
    return scaled.select(
        "id",
        "pr_scaled",
        "trust_scaled",
        F.round(
            (F.col("pr_scaled") - F.col("trust_scaled")) / F.col("pr_scaled"), 6
        ).alias("rel_mass"),
    )


def sybilrank(
    edges: DataFrame,
    seeds: list[int],
    max_iter: int | None = None,
) -> DataFrame:
    """SybilRank (Cao, Sirivianos, Yang & Pregueiro, NSDI 2012) —
    DataFrame[id, trust_scaled, rank]: degree-normalized landing
    probability of an EARLY-TERMINATED random walk from a verified seed
    set over the UNDIRECTED graph. The termination at O(log n) steps —
    before mixing completes — IS the detector: the honest region mixes
    internally in O(log n) but trust crosses the few attack edges into a
    sybil region much more slowly, so at step ~log₂(n) honest nodes hold
    near-stationary trust and sybils near none. (Run to convergence the
    walk forgets the seeds entirely — the stationary distribution is
    ∝ degree and carries no signal; that is why ``max_iter`` defaults to
    ceil(log₂ n), the paper's choice, rather than "until converged".)
    The final degree normalization removes the stationary bias so honest
    nodes score ≈ uniformly.

    trust t₀ = 1/|seeds| on the seeds; t' = Σ_{u~v} t(u)/deg(u)
    (trust-conserving: Σt = 1 every step); rank(v) = t_K(v)/deg(v).
    ``trust_scaled`` is t_K × N (the O(1) gate-scaling convention) and
    ``rank`` divides the already-rounded scaled trust by degree, the
    spam_mass cross-engine-determinism trick.

    Plan: the pagerank shape — per-edge 1/deg factor table built once,
    cached hash-partitioned on the gather key; only the V-row trust
    vector shuffles per step, through plans/fixpoint.iterate (one job
    per step). Reference parity: vertex-centric fixpoint family
    (benchmark/benchmarks/pagerank.h), undirected early-terminated
    variant."""
    import math

    from ..graph import DST, SRC, join_side, nodes_of, symmetrize
    from ..plans.fixpoint import iterate, rounds

    if not seeds:
        raise ValueError("seeds must be non-empty")
    seeds = sorted(set(seeds))
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = symmetrize(edges)
    with rounds() as r:
        nodes, n = r.keep(nodes_of(edges).repartition(p, "id"))
        if n == 0:
            return nodes.select(
                "id", F.lit(0.0).alias("trust_scaled"), F.lit(0.0).alias("rank")
            )
        k = max_iter if max_iter is not None else max(1, math.ceil(math.log2(n)))
        deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("deg"))
        ew, _ = r.keep(
            und.join(deg.select(F.col("id").alias(SRC), "deg"), SRC)
            .select(SRC, DST, (F.lit(1.0) / F.col("deg")).alias("inv"))
            .repartition(p, SRC)
        )

        init = nodes.select(
            "id",
            F.when(F.col("id").isin(seeds), F.lit(1.0 / len(seeds)))
            .otherwise(F.lit(0.0))
            .alias("t"),
        )

        def step(t: DataFrame, _i: int) -> DataFrame:
            gathered = (
                join_side(t, n).join(ew, t["id"] == ew[SRC])
                .select(F.col(DST).alias("id"), (F.col("inv") * F.col("t")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("s"))
            )
            return nodes.join(join_side(gathered, n), "id", "left").select(
                "id", F.coalesce("s", F.lit(0.0)).alias("t")
            )

        result = iterate(init, step, max_iter=k, name="sybilrank")
        scaled = result.state.select(
            "id", F.round(F.col("t") * F.lit(float(n)), 6).alias("trust_scaled")
        )
        return scaled.join(deg, "id").select(
            "id",
            "trust_scaled",
            F.round(F.col("trust_scaled") / F.col("deg"), 6).alias("rank"),
        ).localCheckpoint(eager=True)


def who_to_follow(
    edges: DataFrame,
    user: int,
    k_trust: int = 64,
    ppr_iters: int = 8,
    salsa_iters: int = 8,
    top_n: int = 20,
) -> DataFrame:
    """Who-To-Follow (Gupta et al., WWW 2013 — production link
    recommendation) — DataFrame[id, auth_scaled, rec_rank]: the two-stage
    composition the paper runs per user:

    1. **Circle of trust** — top ``k_trust`` nodes by personalized
       PageRank from ``user`` (the user's egocentric random-walk
       neighborhood). The cut orders by the ROUNDED ×N rank with an id
       tiebreak, so the boundary is engine-exact.
    2. **Personalized SALSA** — SALSA restricted to the bipartite
       subgraph {(h, a) : h ∈ CoT}: CoT members are the hubs, anyone
       they link to is a candidate authority; the alternating
       equal-split walk ranks candidates by how much CoT attention
       flows to them (TKC-free, unlike HITS).

    Output: the ``top_n`` candidate authorities EXCLUDING ``user`` and
    the accounts ``user`` already links to (the recommend-NEW filter),
    ranked by rounded ×N₂ authority (N₂ = subgraph node count), id
    tiebreak. Both stages are the audited kernels
    (pagerank.personalized_pagerank_result, hits.salsa_result) — this
    operator is pure composition, no new iteration shape."""
    from pyspark.sql import Window

    from ..graph import SRC
    from .hits import salsa_result
    from .pagerank import personalized_pagerank_result

    ppr = personalized_pagerank_result(edges, sources=[user], max_iter=ppr_iters)
    n = float(ppr.n_nodes or ppr.state.count())
    scaled = ppr.state.select(
        "id", F.round(F.col("rank") * F.lit(n), 6).alias("_t")
    )
    w_cot = Window.orderBy(F.desc("_t"), F.asc("id"))
    cot = (
        scaled.withColumn("_rn", F.row_number().over(w_cot))
        .filter(F.col("_rn") <= k_trust)
        .select("id")
    )
    bip = edges.join(
        cot.withColumnRenamed("id", SRC), SRC, "left_semi"
    ).localCheckpoint(eager=True)
    sres = salsa_result(bip, max_iter=salsa_iters)
    n2 = float(sres.n_nodes or sres.state.count())
    followed = edges.filter(F.col(SRC) == user).select(
        F.col("dst").alias("id")
    )
    cand = (
        sres.state.filter(F.col("auth") > 0.0)
        .filter(F.col("id") != user)
        .join(followed, "id", "left_anti")
        .select("id", F.round(F.col("auth") * F.lit(n2), 6).alias("auth_scaled"))
    )
    w_rec = Window.orderBy(F.desc("auth_scaled"), F.asc("id"))
    return (
        cand.withColumn("rec_rank", F.row_number().over(w_rec))
        .filter(F.col("rec_rank") <= top_n)
    )
