"""PageRank — power iteration as iterative DataFrame joins.

Reference semantics (reproduced exactly):
- pull recurrence: ``rank'(t) = (1-d)/N + d * Σ_{w ∈ in(t)} rank(w)/out_deg(w)``
  (benchmark/benchmarks/pagerank.h:159-166), init 1/N, damping d=0.85.
- **dangling mass is lost**: a node with out-degree 0 contributes nothing
  (pagerank.h:287-288) — rank sums drift below 1; we reproduce this, not the
  "redistribute dangling mass" textbook variant.
- fixed-iteration mode: exactly ``max_iter`` iterations regardless of the
  L1 diff (pagerank.h:117 ``while (cnt < max)``, default 10,
  benchmark.cc:1463); convergence mode: stop when L1 diff ≤ tol
  (examples/llama-pagerank.cc:86-103,183-185: d=0.85, tol=1e-6).

Spark plan per iteration (push and pull collapse to the same shuffle —
``groupBy(dst).sum()`` *is* the push):
    contribs = ranks ⨝ edges_with_invdeg on src  →  groupBy(dst).sum
    ranks'   = nodes ⟕ contribs  →  (1-d)/N + d * coalesce(contrib, 0)

Scale design:
- ``edges ⨝ out_deg`` is computed ONCE and cached hash-partitioned by
  ``src`` so every iteration's ranks⨝edges join reuses that distribution
  (one shuffle of the small ranks side per iteration, never the edge table).
- hub skew on ``groupBy(dst)`` is handled by partial aggregation (Spark's
  map-side combine) + AQE skew handling; for extreme hubs see
  operators/csr.py which does the partial sums in numpy per partition.
- lineage truncated per iteration via the fixpoint driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import DST, SRC, is_small, join_side, nodes_of
from ..plans.fixpoint import FixpointResult, iterate, rounds


def _inv_degree_edges(edges: DataFrame, p: int) -> DataFrame:
    """DataFrame[src, dst, inv_deg] hash-partitioned on src: the per-edge
    1/out-degree factor every pull step streams (LL_PRECOMPUTED_DEGREE
    analog)."""
    out_deg = edges.groupBy(SRC).agg(F.count("*").alias("od"))
    return (
        edges.select(SRC, DST)
        .join(out_deg, SRC)
        .select(SRC, DST, (F.lit(1.0) / F.col("od")).alias("inv_deg"))
        .repartition(p, SRC)
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 10,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    dangling: str = "lost",
    weight_col: str | None = None,
) -> DataFrame:
    """Return DataFrame[id: long, rank: double] after power iteration."""
    return pagerank_result(
        edges,
        damping=damping,
        max_iter=max_iter,
        tol=tol,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        resume=resume,
        num_partitions=num_partitions,
        dangling=dangling,
        weight_col=weight_col,
    ).state


def pagerank_result(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 10,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    initial_ranks: DataFrame | None = None,
    dangling: str = "lost",
    weight_col: str | None = None,
) -> FixpointResult:
    """``initial_ranks`` (DataFrame[id, rank]) warm-starts the power
    iteration from a previous snapshot's scores — the streaming-loop
    pattern (run_batch_loop): nodes absent from it start at 1/N. The
    fixpoint is initialization-independent, so a warm start changes only
    the convergence distance, never the answer (verified in
    test_pagerank_warm_start_converges_same).

    ``dangling="lost"`` (default) reproduces the reference exactly: a
    node with out-degree 0 contributes nothing and total rank drifts
    below 1 (pagerank.h:287-288). ``dangling="redistribute"`` is the
    textbook variant — each iteration spreads the dangling nodes' rank
    mass uniformly, keeping Σrank = 1. The dangling mass is a 1-row
    aggregate cross-joined into the same plan (no extra driver round
    trip; still one job per iteration).

    ``weight_col`` — weighted PageRank: node w's contribution to t is
    rank(w) · weight(w,t) / Σ_out-edges weight(w,·) instead of the uniform
    rank(w)/out_deg(w) (the per-edge factor is precomputed once in the
    same cached edges_inv table, so the per-iteration plan is IDENTICAL to
    the unweighted one). The reference loader carries edge weights
    (ll_load_utils.h:1076-1090) that only SSSP consumed until now."""
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        # nodes cached HASH-PARTITIONED ON id: the per-iteration ranks-update
        # join (nodes ⟕ contribs) keys on id, and contribs already arrives
        # hash(id)-distributed from its groupBy — pinning nodes' layout removes
        # the only other per-iteration exchange (V rows reshuffled per iter).
        nodes, n = r.keep(nodes_of(edges).repartition(p, "id"))
        if n == 0:
            # empty graph → empty result (max_nodes()==0, ll_mlcsr_sp.h:587-589)
            empty = nodes.select("id", F.lit(0.0).alias("rank"))
            return FixpointResult(
                state=empty, iterations=0, converged=True, metrics=[], n_nodes=0
            )

        # Precompute the per-edge contribution factor once (LL_PRECOMPUTED_DEGREE
        # analog) and pin the edge table's partitioning on src for the
        # per-iteration join: 1/out_degree unweighted, weight/Σweights weighted.
        if weight_col is None:
            edges_inv = _inv_degree_edges(edges, p)
        else:
            w = F.col(weight_col).cast("double")
            out_w = edges.groupBy(SRC).agg(F.sum(w).alias("ow"))
            edges_inv = (
                edges.select(SRC, DST, w.alias("_w"))
                .join(out_w, SRC)
                .select(SRC, DST, (F.col("_w") / F.col("ow")).alias("inv_deg"))
                .repartition(p, SRC)
            )
        edges_inv, _ = r.keep(edges_inv)

        base = (1.0 - damping) / n
        if initial_ranks is not None:
            init = nodes.join(
                initial_ranks.select("id", F.col("rank").alias("_r0")), "id", "left"
            ).select("id", F.coalesce("_r0", F.lit(1.0 / n)).alias("rank"))
        else:
            init = nodes.select("id", F.lit(1.0 / n).alias("rank"))

        if dangling not in ("lost", "redistribute"):
            raise ValueError(f"dangling must be 'lost' or 'redistribute', got {dangling!r}")
        dangling_ids = None
        if dangling == "redistribute":
            dangling_ids, _ = r.keep(
                nodes.join(edges.select(F.col(SRC).alias("id")), "id", "left_anti")
            )

        # join sides follow graph.join_side: the rank vector broadcasts while
        # small; past that the cached edge table is STREAMED through a
        # shuffled-hash join, never sorted (sort-merge would re-sort all edges
        # every iteration) and only the small rank side shuffles.
        def step(ranks: DataFrame, _i: int) -> DataFrame:
            contribs = (
                join_side(ranks, n).join(edges_inv, ranks["id"] == edges_inv[SRC])
                .select(F.col(DST).alias("id"), (F.col("rank") * F.col("inv_deg")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("contrib"))
            )
            new_rank = F.lit(base) + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
            out = nodes.join(join_side(contribs, n), "id", "left")
            if dangling_ids is not None:
                dmass = (
                    ranks.join(dangling_ids, "id", "left_semi")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
                )
                out = out.crossJoin(F.broadcast(dmass))
                new_rank = new_rank + F.lit(damping) * F.col("_dm") / F.lit(float(n))
            return out.select("id", new_rank.alias("rank"))

        updated = None
        if tol is not None:
            def updated(prev: DataFrame, new: DataFrame) -> int:
                diff = (
                    prev.alias("a")
                    .join(new.alias("b"), "id")
                    .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))).alias("l1"))
                    .collect()[0]["l1"]
                )
                return 0 if diff is not None and diff <= tol else 1

        result = iterate(
            init,
            step,
            max_iter=max_iter,
            updated_count=updated,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            # broadcast-tiny states gain nothing from persist's partitioning
            # (the state never shuffles) but pay per-iteration plan depth —
            # truncate every iteration; big states keep the exchange-free
            # persist window (measured: 9.9s vs 13.5s warm at sf0.1 tiny)
            truncate_every=1 if is_small(n) else 4,
            resume=resume,
            name="pagerank",
        )
        result.n_nodes = n
        return result


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    damping: float = 0.85,
    max_iter: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[id, rank] — PageRank with teleport restricted to
    ``sources`` (uniform 1/|S| restart vector): the standard seeded
    relevance ranking over a link graph. Same recurrence shape, caching
    and join policy as :func:`pagerank` (pagerank.h:159-166 with e(v)
    in place of 1/N; dangling mass lost identically); init rank = e."""
    return personalized_pagerank_result(
        edges, sources, damping=damping, max_iter=max_iter,
        num_partitions=num_partitions,
    ).state


def personalized_pagerank_result(
    edges: DataFrame,
    sources: list[int],
    damping: float = 0.85,
    max_iter: int = 10,
    num_partitions: int | None = None,
) -> FixpointResult:
    """:func:`personalized_pagerank` with the full FixpointResult (state +
    per-iteration metrics + the node count the kernel already paid for)."""
    if not sources:
        raise ValueError("personalized_pagerank needs at least one source")
    # dedupe like multi_source_bfs_depths: isin() assigns each DISTINCT id
    # its 1/|S| share once, so duplicate ids would silently shrink the
    # teleport vector's total mass below 1
    sources = sorted(set(sources))
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        nodes, n = r.keep(nodes_of(edges).repartition(p, "id"))
        if n == 0:
            return FixpointResult(
                state=nodes.select("id", F.lit(0.0).alias("rank")),
                iterations=0, converged=True, metrics=[], n_nodes=0,
            )
        # teleport mass only lands on nodes of the edge-derived node set; a
        # source id absent from it would silently lose its 1/|S| share and
        # degenerate the whole ranking toward zero — fail loudly instead
        present = nodes.filter(F.col("id").isin(sources)).count()
        if present != len(set(sources)):
            found = {row["id"] for row in nodes.filter(F.col("id").isin(sources)).collect()}
            missing = sorted(set(sources) - found)
            raise ValueError(
                f"personalized_pagerank sources not in the graph's node set: "
                f"{missing} (teleport mass for them would be silently dropped)"
            )

        edges_inv, _ = r.keep(_inv_degree_edges(edges, p))

        e_v = F.when(F.col("id").isin(sources), F.lit(1.0 / len(sources))).otherwise(
            F.lit(0.0)
        )
        init = nodes.select("id", e_v.alias("rank"))

        def step(ranks: DataFrame, _i: int) -> DataFrame:
            contribs = (
                join_side(ranks, n).join(edges_inv, ranks["id"] == edges_inv[SRC])
                .select(F.col(DST).alias("id"), (F.col("rank") * F.col("inv_deg")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("contrib"))
            )
            return nodes.join(join_side(contribs, n), "id", "left").select(
                "id",
                (
                    F.lit(1.0 - damping) * e_v
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )

        result = iterate(
            init,
            step,
            max_iter=max_iter,
            truncate_every=1 if is_small(n) else 4,
            name="personalized_pagerank",
        )
        result.n_nodes = n
        return result


def top_k_pagerank(edges: DataFrame, k: int = 10, **kwargs) -> DataFrame:
    """Top-k nodes by rank (examples/llama-pagerank.cc:253-270 qsort top-10).

    Deterministic tie-break by id; executed as a TakeOrderedAndProject
    (no global sort materialization).
    """
    ranks = pagerank(edges, **kwargs)
    return ranks.orderBy(F.desc("rank"), F.asc("id")).limit(k)


def pagerank_trace(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[iter, l1_residual] — the convergence curve of the plain
    (dangling-lost) pull recurrence: per iteration i, the L1 distance
    Σ_v |r_i(v) − r_{i−1}(v)| of the N-scaled rank vectors. Power
    iteration contracts geometrically at rate ≈ damping; the trace is the
    monitoring surface a production ranking job alarms on (a flat or
    rising residual means the graph changed shape or the job is broken).

    Cross-engine exactness: residuals are computed from the 6-dp-ROUNDED
    scaled ranks (the gate-proven identical quantities), quantized to
    micro-units per node and summed as exact integers — so the curve is
    bit-identical in any engine and any aggregation order.

    The per-iteration plan is the pagerank_result pull step (cached
    inverse-degree edge table streams, rank vector shuffles) plus one
    V-row join against the previous vector for the diff; state lineage is
    capped per iteration like every fixpoint kernel here."""
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows = []
    with rounds() as r:
        nodes, n = r.keep(nodes_of(edges).repartition(p, "id"))
        if n == 0:
            return spark.createDataFrame([], "iter long, l1_residual double")
        edges_inv, _ = r.keep(_inv_degree_edges(edges, p))

        def _scaled_micro(col):
            return F.round(F.round(col * F.lit(float(n)), 6) * F.lit(1e6)).cast("long")

        ranks = nodes.select("id", F.lit(1.0 / n).alias("rank")).localCheckpoint(
            eager=True
        )
        base = (1.0 - damping) / n
        for i in range(1, iters + 1):
            contribs = (
                join_side(ranks, n).join(edges_inv, ranks["id"] == edges_inv[SRC])
                .select(
                    F.col(DST).alias("id"),
                    (F.col("rank") * F.col("inv_deg")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("contrib"))
            )
            nxt = (
                nodes.join(contribs, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(base)
                        + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
            res = (
                nxt.select("id", _scaled_micro(F.col("rank")).alias("m1"))
                .join(
                    ranks.select("id", _scaled_micro(F.col("rank")).alias("m0")), "id"
                )
                .agg(F.sum(F.abs(F.col("m1") - F.col("m0"))).alias("s"))
                .collect()
            )[0]
            rows.append((i, int(res["s"] or 0) / 1e6))
            ranks = nxt
    return spark.createDataFrame(rows, "iter long, l1_residual double")


def topic_sensitive_pagerank(
    edges: DataFrame,
    topic_of,
    n_topics: int,
    damping: float = 0.85,
    max_iter: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """Topic-sensitive PageRank (Haveliwala, WWW 2002): K personalized
    rank vectors — teleport restricted to each topic's seed set — computed
    SIMULTANEOUSLY, returning DataFrame[id, r0..r{K-1}].

    ``topic_of`` is a Column expression over ``id`` giving a seed's topic
    in [0, n_topics) or NULL for non-seeds; e_t(v) = 1/|S_t| on members.

    The production-relevant part is the batching: all K vectors ride ONE
    gather join per iteration (the cached 1/out-degree edge table streams
    once; the V-row state carries K rank + K teleport columns), so K
    topics cost one topic's shuffle volume — the same multi-column
    batching the sparse multi-source BFS and the 2-D spectral embedding
    use. Per-vector arithmetic is exactly the pagerank.h recurrence
    (dangling mass lost), so each column individually matches
    ``personalized_pagerank`` on that seed set."""
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ks = list(range(n_topics))
    with rounds() as r:
        nodes, n = r.keep(nodes_of(edges).repartition(p, "id"))
        if n == 0:
            return nodes.select("id", *[F.lit(0.0).alias(f"r{t}") for t in ks])
        e_inv, _ = r.keep(_inv_degree_edges(edges, p))

        tagged = nodes.select("id", topic_of.cast("long").alias("_t"))
        sizes = {
            int(row["_t"]): int(row["cnt"])
            for row in tagged.filter(F.col("_t").isNotNull())
            .groupBy("_t")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        for t in ks:
            if sizes.get(t, 0) == 0:
                raise ValueError(f"topic {t} has no seed nodes")

        e_cols = [
            F.when(F.col("_t") == t, F.lit(1.0 / sizes[t]))
            .otherwise(F.lit(0.0))
            .alias(f"e{t}")
            for t in ks
        ]
        state, _ = r.start(
            tagged.select(
                "id",
                *e_cols,
                *[
                    F.when(F.col("_t") == t, F.lit(1.0 / sizes[t]))
                    .otherwise(F.lit(0.0))
                    .alias(f"r{t}")
                    for t in ks
                ],
            )
        )

        # graph.join_side: while small the broadcast V-row state lets the
        # cached hash(src) edge table stream with no exchange and leaves the
        # partial-sum partitioning unchanged
        d = damping
        for _ in range(max_iter):
            contribs = (
                e_inv.join(
                    join_side(state.select(
                        F.col("id").alias(SRC),
                        *[F.col(f"r{t}").alias(f"x{t}") for t in ks],
                    ), n),
                    SRC,
                )
                .groupBy(F.col(DST).alias("id"))
                .agg(
                    *[
                        F.sum(F.col(f"x{t}") * F.col("inv_deg")).alias(f"c{t}")
                        for t in ks
                    ]
                )
            )
            state, _ = r.materialize(
                state.join(join_side(contribs, n), "id", "left").select(
                    "id",
                    *[F.col(f"e{t}") for t in ks],
                    *[
                        (
                            F.lit(1.0 - d) * F.col(f"e{t}")
                            + F.lit(d) * F.coalesce(F.col(f"c{t}"), F.lit(0.0))
                        ).alias(f"r{t}")
                        for t in ks
                    ],
                )
            )
        return state.select("id", *[f"r{t}" for t in ks])


def cheirank_plane(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 10,
) -> DataFrame:
    """2-D (PageRank, CheiRank) rank plane → DataFrame[id, pagerank, cheirank].

    Published frame: Chepelianskii (2010) / Zhirov, Zhirov & Shepelyansky
    (EPJ B 2010) — CheiRank K* is PageRank computed over the TRANSPOSED
    link graph, so the (K, K*) plane separates authority-like nodes
    (high PageRank: many things point at them) from hub/communicator-like
    nodes (high CheiRank: they point at many influential things). Classic
    web-measurement companion to the bowtie census.

    Spark plan: two runs of the audited power-iteration kernel — one on
    the edge table, one on its reversal (a projection, no shuffle to
    build) — joined on id. Each run is the unchanged pagerank plan (cached
    hash(src) edge table, only the V-row vector shuffles per iteration);
    the reference recurrence and dangling-lost semantics apply to both
    directions (pagerank.h:117, 287-288).
    """
    # the two directions are independent power iterations — overlap their
    # job chains from driver threads (plans/overlap.py); each returns a
    # checkpointed vector and the id-join below is unchanged
    from ..plans.overlap import run_concurrent

    fwd, rev = run_concurrent(
        lambda: pagerank_result(edges, damping=damping, max_iter=max_iter),
        lambda: pagerank_result(
            edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)),
            damping=damping,
            max_iter=max_iter,
        ),
    )
    n = float(fwd.n_nodes)
    return (
        fwd.state.select("id", (F.col("rank") * n).alias("pagerank"))
        .join(rev.state.select("id", (F.col("rank") * n).alias("cheirank")), "id")
    )


def truncated_pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    truncate: int = 2,
    max_iter: int = 8,
) -> DataFrame:
    """Truncated PageRank → DataFrame[id, trunc_rank] (×N-scaled, 6 dp).

    Published frame: Becchetti, Castillo, Donato, Baeza-Yates & Leonardi,
    "Link-Based Characterization and Detection of Web Spam" (AIRWeb
    2006 / TWEB 2008) — PageRank with the contribution of SHORT paths
    (length ≤ T) removed:

        trunc_rank(v) = (1-d)/N · Σ_{t=T+1..Tmax} d^t · (Mᵀ)^t 1 (v)

    Link farms inflate a page's rank through many CLOSE supporters, so
    the ratio trunc_rank/pagerank drops sharply on spam — the paper's
    headline classifier feature, the natural companion of the gated
    spam_mass. Same recurrence conventions as the reference PageRank
    (column-stochastic M, dangling mass lost, pagerank.h:117, 287-288);
    finite horizon Tmax = ``max_iter`` (the fixed-iteration house mode).

    Spark plan: the audited power-iteration shape — the edge table and
    out-degrees are persisted once and streamed through Tmax SpMV
    joins; the V-row state carries (path mass x_t, accumulator), so the
    truncation costs ZERO extra jobs over a plain pagerank run. Only
    the vector shuffles per iteration.
    """
    e = edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST)).distinct()
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    deg = e.groupBy(F.col(SRC).alias("id")).agg(F.count(F.lit(1)).alias("od"))
    ew = e.join(deg, e[SRC] == deg["id"]).select(
        SRC, DST, (F.lit(1.0) / F.col("od")).alias("w")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ew.count()

    nodes = nodes_of(e)
    n = nodes.count()
    if n == 0:
        e.unpersist()
        ew.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "id long, trunc_rank double"
        )
    state0 = nodes.select(
        "id", (F.lit(1.0) / n).alias("x"), F.lit(0.0).alias("acc")
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        t = i + 1
        contrib = (
            join_side(state, n).join(ew, state["id"] == ew[SRC])
            .groupBy(F.col(DST).alias("id"))
            .agg(F.sum(F.col("x") * F.col("w")).alias("nx"))
        )
        coef = ((1.0 - damping) / n) * damping**t if t > truncate else 0.0
        return state.select("id", "acc").join(contrib, "id", "left").select(
            "id",
            F.coalesce("nx", F.lit(0.0)).alias("x"),
            (F.col("acc") + F.lit(coef) * F.coalesce("nx", F.lit(0.0))).alias("acc"),
        )

    res = iterate(state0, step, max_iter=max_iter, name="truncated_pagerank")
    out = res.state.select(
        "id", F.round(F.col("acc") * n, 6).alias("trunc_rank")
    )
    e.unpersist()
    ew.unpersist()
    return out
