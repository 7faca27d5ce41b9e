"""Fiedler vector (spectral bisection) via deflated power iteration.

The Fiedler vector — the eigenvector of the graph Laplacian L = D − A for
its second-smallest eigenvalue λ₂ — gives the classic spectral bisection:
``sign(x_v)`` splits the vertex set along the sparsest relaxed cut
(Fiedler 1973; Spielman & Teng 2007 use it as the partitioning
primitive). LLAMA ships no spectral kernel, but the per-iteration plan is
the exact SpMV gather its PageRank loop performs
(benchmark/benchmarks/pagerank.h:120-139: pull from in-neighbors, write
new vector), so the engine expresses it with the same cached-edge /
iteration-join policy as ``operators/pagerank.py``.

Method — shift-and-deflate power iteration, SQL-portable by construction:

    M = cI − L  with  c = 1 + max_degree    (M ⪰ 0; eigenvalues c − λ_i)

``1`` is M's dominant eigenvector (M·1 = c·1, since L·1 = 0); the Fiedler
vector is the dominant eigenvector *orthogonal to* ``1``. Each iteration
therefore computes the matvec, deflates ``1`` exactly (subtracts the
mean — exact projection because L is symmetric, so its eigenvectors are
mutually orthogonal in the standard inner product), and L2-normalizes:

    y_v = (c − d_v)·x_v + Σ_{u~v} x_u          (one gather over und edges)
    m   = Σy / n ;  x'_v = (y_v − m) / sqrt(Σy² − m²·n)

A FIXED iteration count (no convergence test) keeps the recurrence
bit-replayable: the DuckDB oracle unrolls the same arithmetic — same
operand order, same one-pass variance form — as chained CTEs, and both
engines round to 6 dp only at the end. The returned vector is
sign-canonicalized (multiplied by the sign of its largest-|x| entry,
ties broken by min id) so the two engines agree on orientation.

Scale: per iteration one join against the cached hash(src)-partitioned
undirected edge table (edges streamed, only the V-row vector shuffles)
plus one 1-row statistics aggregate — identical cost profile to a
PageRank iteration, so the measured PageRank scaling evidence
(BENCH/BASELINE.md) transfers. The only in-loop driver reads are 1-row
scalar probes (the statistics aggregate over the cached iterate — the
normalization constants re-enter the plan as literals, which halves the
per-step job chain versus a broadcast-stats crossJoin); the post-loop
``head()`` is a 1-row sign probe.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import DST, SRC, join_side, symmetrize
from ..plans.fixpoint import rounds

FIEDLER_ITERS = 16


def _py_sqrt(v: float | None) -> float | None:
    """sqrt with Spark SQL's NULL semantics: sqrt(NULL) = NULL, and a NaN
    result (negative or NaN input) is NULL too.

    The iterate-normalization constants are computed driver-side from the
    collected 1-row statistics; this keeps the degenerate branches (empty
    iterate, negative one-pass variance from float cancellation, NaN sums
    from an overflow) returning NULL columns exactly as the previous
    all-SQL expression did."""
    if v is None or v < 0.0 or math.isnan(v):
        return None
    return math.sqrt(v)


def fiedler_vector(
    edges: DataFrame,
    max_iter: int = FIEDLER_ITERS,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[id, d, fiedler] — sign-canonicalized unit Fiedler iterate
    after ``max_iter`` deflated power steps on cI − L; ``d`` is the
    undirected degree (handy for downstream cut/conductance queries)."""
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        und, _ = r.keep(symmetrize(edges).repartition(p, SRC))
        deg, n = r.keep(
            und.groupBy(F.col(SRC).alias("id"))
            .agg(F.count("*").cast("double").alias("d"))
            .repartition(p, "id")
        )
        if n == 0:
            return deg.select("id", "d", F.lit(0.0).alias("fiedler"))
        c = 1.0 + deg.agg(F.max("d")).head()[0]
        n_d = float(n)

        # deterministic non-constant start vector, exact-integer both engines
        state, _ = r.start(
            deg.select(
                "id",
                "d",
                (
                    ((F.col("id") * F.lit(2654435761)) % F.lit(1048576)).cast("double")
                    / F.lit(1048576.0)
                    - F.lit(0.5)
                ).alias("x"),
            )
        )

        for _ in range(max_iter):
            gather = und.join(
                join_side(state.select(F.col("id").alias(SRC), F.col("x").alias("xs")), n),
                SRC,
            ).groupBy(F.col(DST).alias("id")).agg(F.sum("xs").alias("s"))
            y = state.join(join_side(gather, n), "id", "left").select(
                "id",
                "d",
                (
                    (F.lit(c) - F.col("d")) * F.col("x")
                    + F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("y"),
            )
            # one materialization per step; the normalization scalars are read
            # back from the cached rows and re-entered as literals — same
            # binary64 ops in the same order as the previous broadcast-stats
            # plan (m = sy/n ; x' = (y - m) / sqrt(syy - (m*m)*n); the
            # numerator/denominator division stays in SQL, so a zero or NULL
            # denominator yields NULL exactly as before)
            ymat, _ = r.materialize(y)
            sy, syy = ymat.agg(
                F.sum("y").alias("sy"), F.sum(F.col("y") * F.col("y")).alias("syy")
            ).head()
            m = None if sy is None else sy / n_d
            denom = _py_sqrt(None if m is None else syy - (m * m) * n_d)
            state = ymat.select(
                "id",
                "d",
                (
                    (F.col("y") - F.lit(m).cast("double"))
                    / F.lit(denom).cast("double")
                ).alias("x"),
            )

        head = state.orderBy(F.abs(F.col("x")).desc(), "id").select("x").head()
        sign = 1.0 if head is None or head[0] >= 0.0 else -1.0
        return state.select("id", "d", (F.col("x") * F.lit(sign)).alias("fiedler"))


def spectral_cut_summary(edges: DataFrame, max_iter: int = FIEDLER_ITERS) -> DataFrame:
    """One-row DataFrame[cut_edges, vol_small, conductance] for the
    sign(fiedler) bisection: ``cut_edges`` = undirected edge pairs crossing
    the cut, ``vol_small`` = smaller side's degree volume (over the
    symmetrized edge set), ``conductance`` = cut volume / vol_small —
    the standard φ(S) = |∂S| / min(vol S, vol S̄) with |∂S| counted in
    directed (und) edges = 2·cut_edges."""
    vec = fiedler_vector(edges, max_iter=max_iter).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    side = vec.select(
        "id", "d", (F.col("fiedler") >= F.lit(0.0)).cast("int").alias("side")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    und = symmetrize(edges)
    crossing = (
        und.join(side.select(F.col("id").alias(SRC), F.col("side").alias("s_src")), SRC)
        .join(side.select(F.col("id").alias(DST), F.col("side").alias("s_dst")), DST)
        .filter(F.col("s_src") != F.col("s_dst"))
        .count()
    )
    vols = (
        side.groupBy("side")
        .agg(F.sum("d").alias("vol"))
        .agg(F.min("vol").alias("vol_small"))
        .head()
    )
    vol_small = float(vols[0]) if vols and vols[0] is not None else 0.0
    cut_pairs = crossing // 2
    cond = float(crossing) / vol_small if vol_small > 0 else 0.0
    spark = edges.sparkSession
    vec.unpersist()
    side.unpersist()
    return spark.createDataFrame(
        [(int(cut_pairs), float(vol_small), round(cond, 6))],
        "cut_edges long, vol_small double, conductance double",
    )


def spectral_embedding2(
    edges: DataFrame,
    max_iter: int = FIEDLER_ITERS,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[id, e1, e2] — 2-D spectral embedding: the two smallest
    non-trivial Laplacian eigendirections via ORTHOGONAL ITERATION on
    M = cI − L (block power method with per-round Gram-Schmidt).

    Both columns ride ONE gather join per round (the edge table is
    streamed once, summing both coordinates), and the Gram-Schmidt step
    is closed-form from a single 5-sum aggregate: with m_i = Σy_i/n,

        x1' = (y1 − m1)/‖u1‖,         ‖u1‖² = s11 − n·m1²
        β   = (s12 − m1·s2 − m2·s1 + (m1·m2)·n)/‖u1‖
        x2' = (y2 − m2 − (β/‖u1‖)·(y1 − m1)) / sqrt(s22 − n·m2² − β²)

    — exactly the operand order the SQL oracle replays. The one-pass
    moment forms cancel like the fiedler update (gate-proven at 6 dp).
    Embedding coordinates are the standard cheap vertex features for
    downstream ML (cluster-id hashing, locality-aware relabeling)."""
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        und, _ = r.keep(symmetrize(edges).repartition(p, SRC))
        deg, n = r.keep(
            und.groupBy(F.col(SRC).alias("id"))
            .agg(F.count("*").cast("double").alias("d"))
            .repartition(p, "id")
        )
        if n == 0:
            return deg.select(
                "id", F.lit(0.0).alias("e1"), F.lit(0.0).alias("e2")
            )
        c = 1.0 + deg.agg(F.max("d")).head()[0]
        n_d = float(n)

        def h(const: int):
            return (
                ((F.col("id") * F.lit(const)) % F.lit(1048576)).cast("double")
                / F.lit(1048576.0)
                - F.lit(0.5)
            )

        state, _ = r.start(
            deg.select("id", "d", h(2654435761).alias("x1"), h(1566083941).alias("x2"))
        )

        for _ in range(max_iter):
            gather = (
                und.join(
                    state.select(
                        F.col("id").alias(SRC),
                        F.col("x1").alias("g1"),
                        F.col("x2").alias("g2"),
                    ).hint("shuffle_hash"),
                    SRC,
                )
                .groupBy(F.col(DST).alias("id"))
                .agg(F.sum("g1").alias("s1g"), F.sum("g2").alias("s2g"))
            )
            y = state.join(gather, "id", "left").select(
                "id",
                "d",
                (
                    (F.lit(c) - F.col("d")) * F.col("x1")
                    + F.coalesce(F.col("s1g"), F.lit(0.0))
                ).alias("y1"),
                (
                    (F.lit(c) - F.col("d")) * F.col("x2")
                    + F.coalesce(F.col("s2g"), F.lit(0.0))
                ).alias("y2"),
            )
            # NOTE: this loop keeps the broadcast-stats crossJoin structure (the
            # fiedler variants collect the constants driver-side instead): with
            # the shuffle_hash gather the iterate's partial-sum partition layout
            # is AQE-dependent, and aggregating the checkpointed iterate was
            # measured to regroup the float partials (last-bits drift vs the
            # inline plan at sf0.1) — not worth it for a non-bench operator.
            y = r.cache(y)
            st = y.agg(
                F.sum("y1").alias("s1"),
                F.sum("y2").alias("s2"),
                F.sum(F.col("y1") * F.col("y1")).alias("s11"),
                F.sum(F.col("y2") * F.col("y2")).alias("s22"),
                F.sum(F.col("y1") * F.col("y2")).alias("s12"),
            )
            m1 = F.col("s1") / F.lit(n_d)
            m2 = F.col("s2") / F.lit(n_d)
            u1n = F.sqrt(F.col("s11") - (m1 * m1) * F.lit(n_d))
            beta = (
                F.col("s12") - m1 * F.col("s2") - m2 * F.col("s1") + (m1 * m2) * F.lit(n_d)
            ) / u1n
            u2n = F.sqrt(F.col("s22") - (m2 * m2) * F.lit(n_d) - beta * beta)
            state, _ = r.materialize(
                y.crossJoin(F.broadcast(st)).select(
                    "id",
                    "d",
                    ((F.col("y1") - m1) / u1n).alias("x1"),
                    (
                        (
                            F.col("y2")
                            - m2
                            - (beta / u1n) * (F.col("y1") - m1)
                        )
                        / u2n
                    ).alias("x2"),
                )
            )

        out_cols = []
        for col in ("x1", "x2"):
            head = state.orderBy(F.abs(F.col(col)).desc(), "id").select(col).head()
            sgn = 1.0 if head is None or head[0] >= 0.0 else -1.0
            out_cols.append((F.col(col) * F.lit(sgn)).alias("e" + col[-1]))
        return state.select("id", *out_cols)


def fiedler_vector_normalized(
    edges: DataFrame,
    max_iter: int = FIEDLER_ITERS,
    num_partitions: int | None = None,
    weighted_adj: DataFrame | None = None,
) -> DataFrame:
    """DataFrame[id, d, nfiedler] — Fiedler vector of the NORMALIZED
    Laplacian L_n = I − D^{-1/2}AD^{-1/2} (Shi–Malik / Ng–Jordan–Weiss
    normalized spectral bisection — the practical variant on power-law
    degree graphs, where the unnormalized cut chases hub degrees).

    Power iteration on M = 2I − L_n = I + D^{-1/2}AD^{-1/2}: no
    degree-dependent shift constant needed (spec(M) ⊆ [0,2], dominant
    eigenvector D^{1/2}·1 at exactly 2). Per round: gather Σ x_j/√d_j
    over und edges, y = x + g/√d, deflate the D^{1/2}·1 direction
    (p = Σy·√d / Σd — exact nullvector projection), L2-normalize via the
    one-pass form ‖y−p·√d‖² = Σy² − 2·p·Σy√d + p²·Σd. Same cached-edge /
    V-row-shuffle plan as ``fiedler_vector``; same 6 dp oracle contract.

    ``weighted_adj`` (optional): a PRE-SYMMETRIZED weighted adjacency
    DataFrame[src, dst, w] replacing ``symmetrize(edges)`` — the
    motif-spectral entry point (Benson-Gleich-Leskovec, Science 2016):
    pass the triangle motif adjacency and the same iteration bisects by
    motif conductance (d becomes the motif-weighted degree Σw). With
    ``weighted_adj=None`` the plan is the unweighted one (w ≡ 1,
    d = degree) unchanged."""
    spark = edges.sparkSession
    p_ = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        if weighted_adj is None:
            und = symmetrize(edges).select(SRC, DST, F.lit(1.0).alias("w"))
        else:
            und = weighted_adj.select(SRC, DST, F.col("w").cast("double").alias("w"))
        und, _ = r.keep(und.repartition(p_, SRC))
        deg, n = r.keep(
            und.groupBy(F.col(SRC).alias("id"))
            .agg(F.sum("w").alias("d"))
            .repartition(p_, "id")
        )
        if n == 0:
            return deg.select("id", "d", F.lit(0.0).alias("nfiedler"))
        s2 = float(deg.agg(F.sum("d")).head()[0])  # Σd = Σ(√d)², exact integer sum

        state, _ = r.start(
            deg.select(
                "id",
                "d",
                F.sqrt(F.col("d")).alias("sd"),
                (
                    ((F.col("id") * F.lit(2654435761)) % F.lit(1048576)).cast("double")
                    / F.lit(1048576.0)
                    - F.lit(0.5)
                ).alias("x"),
            )
        )

        for _ in range(max_iter):
            gather = (
                und.join(
                    join_side(state.select(
                        F.col("id").alias(SRC), (F.col("x") / F.col("sd")).alias("xs")
                    ), n),
                    SRC,
                )
                .groupBy(F.col(DST).alias("id"))
                .agg(F.sum(F.col("w") * F.col("xs")).alias("g"))
            )
            y = state.join(join_side(gather, n), "id", "left").select(
                "id",
                "d",
                "sd",
                (F.col("x") + F.coalesce(F.col("g"), F.lit(0.0)) / F.col("sd")).alias("y"),
            )
            # one materialization per step; deflation/normalization constants
            # collected from the cached rows and re-entered as literals (same
            # binary64 ops in the same order as the previous broadcast-stats
            # plan; the per-row division stays in SQL so zero/NULL
            # denominators yield NULL exactly as before)
            ymat, _ = r.materialize(y)
            syd, syy = ymat.agg(
                F.sum(F.col("y") * F.col("sd")).alias("syd"),
                F.sum(F.col("y") * F.col("y")).alias("syy"),
            ).head()
            pr = None if syd is None else syd / s2
            denom = _py_sqrt(
                None if pr is None else syy - 2.0 * pr * syd + (pr * pr) * s2
            )
            state = ymat.select(
                "id",
                "d",
                "sd",
                (
                    (F.col("y") - F.lit(pr).cast("double") * F.col("sd"))
                    / F.lit(denom).cast("double")
                ).alias("x"),
            )

        head = state.orderBy(F.abs(F.col("x")).desc(), "id").select("x").head()
        sign = 1.0 if head is None or head[0] >= 0.0 else -1.0
        return state.select("id", "d", (F.col("x") * F.lit(sign)).alias("nfiedler"))
