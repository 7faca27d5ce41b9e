"""k-core membership (degree peeling) and full coreness (h-index fixpoint).

Beyond the reference's kernel set (same family as label propagation: a
vertex-centric fixpoint the north rule's engine should offer for corpus/
community pruning). Semantics: repeatedly delete nodes whose undirected
degree is < k until none remain; the survivors form the k-core. Output:
DataFrame[id, degree] — each survivor with its degree inside the core.

Spark plan per round (delta iteration on the shrinking edge set):
    deg  = und.groupBy(src).count()                 (map-side combined)
    keep = deg.filter(count >= k)                   (tiny relative to und)
    und  = und ⋉ keep(src) ⋉ keep(dst)              (two semi-joins)
Rounds until no node is removed; each round checkpoints the edge set to
truncate lineage. The edge set only shrinks, so per-round cost is
monotonically non-increasing — the same property LLAMA gets from frontier
shrinkage in its BFS template (ll_bfs_template.h).

``rounds`` forces a fixed number of peels (the SQL-oracle-portable mode,
like BFS_UNROLL); ``rounds=None`` runs to convergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, is_small, join_side, symmetrize


def k_core(
    edges: DataFrame,
    k: float,
    rounds: int | None = None,
    max_iter: int = 100,
    weight_col: str | None = None,
) -> DataFrame:
    """DataFrame[id, degree] — nodes of the k-core of the undirected,
    deduped, self-loop-free view of ``edges``, with in-core degrees.

    ``weight_col``: weighted (s-core) peeling — a node survives while its
    total incident weight in the surviving subgraph is ≥ k. The undirected
    edge weight is max over the directions/duplicates of the pair (a
    deterministic, SQL-portable symmetric rule); weighted degrees are
    rounded to 6 dp BEFORE the threshold compare on both engines so
    float accumulation order can't flip membership at the boundary.
    Output column becomes ``wdegree`` (double, 6 dp)."""
    from pyspark.storagelevel import StorageLevel

    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # persist (NOT localCheckpoint) so the hash(src) layout survives and
    # the per-round degree groupBy runs exchange-free — this build's
    # localCheckpoint drops output partitioning (see plans/fixpoint.py);
    # lineage is truncated with a localCheckpoint every 4th round instead
    if weight_col is None:
        und = symmetrize(edges)
        deg_agg = F.count("*")
        out_col = "degree"
    else:
        w = F.col(weight_col).cast("double")
        base = edges.filter(F.col(SRC) != F.col(DST)).select(SRC, DST, w.alias("_w"))
        und = (
            base.unionByName(
                base.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "_w")
            )
            .groupBy(SRC, DST)
            .agg(F.max("_w").alias("_w"))
        )
        deg_agg = F.round(F.sum("_w"), 6)
        out_col = "wdegree"
    und = und.repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = und.count()
    und_is_persisted = True

    limit = rounds if rounds is not None else max_iter
    for _i in range(limit):
        if n_edges == 0:
            break
        deg = und.groupBy(SRC).agg(deg_agg.alias(out_col))
        keep = deg.filter(F.col(out_col) >= k).select(SRC)
        # node-keyed keep list: ≤ V ≤ current edge count rows. The side is
        # chosen from the CURRENT round's n_edges (not frozen at entry) so
        # a graph whose core collapses flips from shuffled-hash joins to
        # broadcast once the surviving edge set is small enough.
        pruned = (
            und.join(join_side(keep, n_edges), SRC, "left_semi")
            .join(join_side(keep.withColumnRenamed(SRC, DST), n_edges), DST, "left_semi")
        )
        if _i % 4 == 3:
            pruned = pruned.localCheckpoint(eager=True)
            pruned_is_persisted = False
        else:
            pruned = pruned.persist(StorageLevel.MEMORY_AND_DISK)
            pruned_is_persisted = True
        m = pruned.count()
        if m == n_edges:
            # fixpoint: further rounds are no-ops in BOTH modes (the SQL
            # oracle's remaining unrolled rounds are no-ops too)
            if pruned_is_persisted:
                pruned.unpersist()
            break
        if und_is_persisted:
            und.unpersist()
        und, n_edges, und_is_persisted = pruned, m, pruned_is_persisted

    out = und.groupBy(F.col(SRC).alias("id")).agg(deg_agg.alias(out_col))
    out = out.localCheckpoint(eager=True)
    if und_is_persisted:
        und.unpersist()
    return out


def coreness(
    edges: DataFrame,
    rounds: int | None = None,
    max_iter: int = 100,
    initial: DataFrame | None = None,
) -> DataFrame:
    """DataFrame[id, coreness] — the FULL core decomposition (every node's
    core number), via the h-index fixpoint: c₀(v) = deg(v);
    c_{t+1}(v) = H({c_t(u) : u ∈ N(v)}) where H is the h-index. The
    sequence is monotone non-increasing and converges exactly to the core
    numbers (Lü, Zhou, Zhang, Stanley 2016) — the distributed answer to
    sequential bucket peeling, which has no parallel analog.

    Scale shape per round: neighbor values collapse through a
    (node, value) groupBy BEFORE the per-node window, so a hub's window
    holds at most |distinct coreness values| rows (≤ max core, O(100s) on
    web graphs), never its degree. Two shuffles + one bounded window per
    round; state checkpointed via the usual cadence.

    ``rounds`` forces a fixed round count (SQL-oracle-portable mode, like
    ``k_core``); ``rounds=None`` iterates until no value changes.
    ``initial`` warm-starts the descent from a prior [id, coreness] —
    valid whenever the prior is a pointwise UPPER bound of the true core
    numbers (always true after edge DELETIONS, and for any truncated
    prior run), converging to the identical fixpoint in fewer rounds.

    **Delta iteration** (tail-round filter): h(v) can only change when some
    neighbor's value changed last round, so tail rounds recompute h ONLY
    for the ``affected`` set (neighbors of changed nodes) — a broadcast
    SEMI-FILTER on the dst side of the ONE existing c⨝edges join, built as
    a LAZY subplan inside the round's single job. Measured honestly on
    this box (frozen-state paired A/B, RMAT scale 20, 16.8M und rows):
    the filtered round is NEUTRAL (1.93s vs 1.91s at changed=473) because
    rounds here are stage-latency-bound; the saved work grows linearly
    with the edge count while the filter's cost is two cheap stages, so
    the payoff begins around 10⁸+ und rows per round — the design target.
    Engage guards keep it from ever hurting: a full round must be
    work-bound (≥5M und rows), changed ≤ min(100k, n/4), and the a-priori
    |affected| bound changed·max_degree must fit a safe broadcast; every
    other round runs the plain full recompute (bit-identical fixpoint —
    verified 0 mismatches at scale 20 and by the oracle gate).

    The edge table is persisted, not localCheckpointed: this build's
    localCheckpoint drops output partitioning, which would re-exchange all
    E rows through the c⨝edges join EVERY round (measured; see
    plans/fixpoint.py)."""
    from pyspark.sql import Observation, Window

    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    from pyspark.storagelevel import StorageLevel

    und = symmetrize(edges).repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    m_edges = und.count()
    deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("c"))
    if initial is None:
        c = deg.localCheckpoint(eager=True)
    else:
        # warm start from ANY pointwise upper bound of the true core
        # numbers (h-index descent is monotone from above — Lü et al.
        # 2016): tighten with the degree bound, fall back to degree for
        # nodes the prior never saw. The DECREMENTAL maintenance path:
        # after edge deletions the old coreness is such a bound.
        init = initial.select(
            "id", F.col(initial.columns[1]).cast("long").alias("_ci")
        )
        c = (
            deg.join(init, "id", "left")
            .select(
                "id",
                F.least(F.coalesce("_ci", F.col("c")), F.col("c")).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
    # one probe job over the checkpointed frame: row count (join-side
    # policy) and max degree (|affected| ≤ changed · max_deg bound) together
    _row = c.agg(F.count(F.lit(1)).alias("n"), F.max("c").alias("m")).head()
    n = int(_row[0])
    max_deg = int(_row[1] or 0)

    w = Window.partitionBy("id").orderBy(F.desc("value"))
    limit = rounds if rounds is not None else max_iter
    changed_ids = None  # None → full-recompute round (round 0 / big frontier)
    for _ in range(limit):
        joined = join_side(c, n).join(und, c["id"] == und[SRC])
        if changed_ids is not None:
            aff = (
                und.join(
                    F.broadcast(changed_ids.withColumnRenamed("id", SRC)),
                    SRC,
                    "left_semi",
                )
                .select(F.col(DST).alias(DST))
                .distinct()
            )
            joined = joined.join(F.broadcast(aff), DST, "left_semi")
        if is_small(n):
            # single-shuffle h-index: fold the per-node sorted neighbor
            # value list in one expression — one exchange per round
            # instead of the histogram+window pair (the trussness round
            # trick; per-node lists are degree-bounded and the graph is
            # on the broadcast policy path, so nothing hub-sized
            # materializes). Big-state path below keeps the (id, value)
            # pre-combine so a 10⁸-degree hub collapses to its value
            # histogram before anything sorts.
            hi = (
                joined.groupBy(F.col(DST).alias("id"))
                .agg(F.reverse(F.array_sort(F.collect_list("c"))).alias("ls"))
                .select(
                    "id",
                    F.aggregate(
                        F.zip_with(
                            "ls",
                            F.sequence(F.lit(1), F.size("ls")).cast("array<long>"),
                            lambda lv, i: F.least(lv, i),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: F.greatest(acc, x),
                    ).alias("h"),
                )
            )
        else:
            hi = (
                joined
                .groupBy(F.col(DST).alias("id"), F.col("c").alias("value"))
                .agg(F.count("*").alias("cnt"))
                .withColumn("cum", F.sum("cnt").over(w))
                .groupBy("id")
                .agg(F.max(F.least(F.col("value"), F.col("cum"))).alias("h"))
            )
        # h is NULL exactly for nodes outside the recompute set (in a full
        # round every node has ≥1 und edge) — they keep their value
        new_c = (
            c.select("id", F.col("c").alias("c_old"))
            .join(hi, "id", "left")
            .select("id", F.coalesce("h", "c_old").cast("long").alias("c"),
                    (F.col("h").isNotNull() & (F.col("h") != F.col("c_old"))).alias("changed"))
        )
        obs = Observation(f"coreness_{_}")
        new_c = new_c.observe(
            obs, F.sum(F.col("changed").cast("long")).alias("n")
        ).localCheckpoint(eager=True)
        changed = int(obs.get["n"] or 0)
        c = new_c.select("id", "c")
        # engage the delta filter only when the round is WORK-bound: the
        # aff subplan adds ~2 stages, which on a latency-bound small graph
        # costs more than the whole full-recompute round (measured paired
        # A/B at sf0.1: delta-everywhere 27-39s vs full 14-19s, identical
        # results) — so require (a) a full round to be genuinely expensive
        # (≥5M edge rows through the groupBy), (b) changed well under n,
        # and (c) the a-priori |affected| bound (changed · max_deg) to
        # keep the lazy broadcast safely small
        changed_ids = (
            new_c.filter(F.col("changed")).select("id")
            if m_edges >= 5_000_000
            and 0 < changed <= max(1, n // 4)
            and is_small(changed)
            and changed * max(1, max_deg) <= 4_000_000
            else None
        )
        if changed == 0:
            # fixpoint: remaining rounds are no-ops in BOTH modes (the SQL
            # oracle's remaining unrolled rounds are no-ops too)
            break

    und.unpersist()
    return c.select("id", F.col("c").alias("coreness"))


def coreness_incremental(
    edges: DataFrame,
    prior: DataFrame,
    n_inserted: int,
    rounds: int | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """Core maintenance under edge INSERTIONS — the counterpart of the
    deletion path (``coreness(initial=prior)``), which is INVALID for
    inserts because old core numbers are then a LOWER bound and the
    h-index descent only converges from above.

    The valid insert-side bound: one edge insertion raises any core
    number by at most 1 (Li, Yu & Mao, TKDE 2014 — the subcore theorem),
    so a batch of B edges raises it by at most B, making
    ``old_core + B`` a pointwise upper bound of the new decomposition;
    ``coreness(initial=)`` additionally tightens it with the new degree
    and the squeeze c* ≤ Tᵏ(min(deg, old+B)) ≤ Tᵏ(deg) guarantees exact
    convergence at least as fast as a cold start.

    Tight for the streaming/recrawl case this engine targets — a small
    delta batch against a huge graph (B below the core spread), where the
    warm start skips most of the descent; for B past the max degree it
    degrades gracefully to exactly the cold start. ``n_inserted`` may be
    any upper bound on the number of distinct inserted undirected edges
    (overcounting is safe, never wrong)."""
    if n_inserted < 0:
        raise ValueError("n_inserted must be >= 0")
    bumped = prior.select(
        "id",
        (F.col(prior.columns[1]).cast("long") + F.lit(int(n_inserted))).alias(
            "coreness"
        ),
    )
    return coreness(edges, rounds=rounds, max_iter=max_iter, initial=bumped)


def core_sizes(edges: DataFrame, rounds: int | None = None) -> DataFrame:
    """k-core collapse curve — DataFrame[k, n_nodes]: for every coreness
    value k present in the graph, how many nodes survive in the k-core
    (coreness ≥ k). The one-look robustness/cohesion profile built from
    the ``coreness`` fixpoint with a single bounded rollup: the coreness
    HISTOGRAM (≤ max-core rows) cum-summed from the top — the window
    never sees the V-row table (degree_distribution precedent)."""
    from pyspark.sql import Window

    cor = coreness(edges) if rounds is None else coreness(edges, rounds=rounds)
    hist = cor.groupBy(F.col("coreness").alias("k")).agg(
        F.count("*").alias("c")
    )
    w = Window.orderBy(F.desc("k")).rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        F.col("k").cast("long").alias("k"),
        F.sum("c").over(w).cast("long").alias("n_nodes"),
    )
