"""Connected components (hash-min label convergence) and label propagation.

Hash-min CC is the north-rule-mandated stand-in for the reference's
sequential Tarjan SCC (benchmark/benchmarks/tarjan_scc.h:57-206 — inherently
DFS-sequential, no distributed analog; scoped out per SURVEY §2.1). The
kernel shape is exactly LLAMA's min-relaxation fixpoint template
(sssp.h:124-179) with ``label`` in place of ``dist + len``:

    label'(v) = min(label(v), min_{u ∈ neighbors(v)} label(u))

over the symmetrized edge set, iterated to fixpoint → every node ends up
labeled with the minimum node id of its weakly-connected component.

Label propagation (also north-rule-mandated) is the same gather-scatter
with mode() instead of min(): each node adopts the most frequent label among
its neighbors, ties broken by smallest label (deterministic synchronous
update — fixed iteration count gives bit-identical results across engines).

Scale notes: the neighbor-min groupBy benefits from map-side partial
aggregation (hub nodes combine locally before the shuffle); the mode-agg in
LP uses a single groupBy((dst,label)) + max_by(struct) rather than a window
sort — one shuffle less. For graphs with giant diameter, hash-min needs
O(diameter) rounds; the checkpointed fixpoint driver keeps lineage flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import (
    DST,
    SRC,
    drop_self_loops,
    is_small,
    join_side,
    materialize,
    nodes_of,
    symmetrize,
)
from ..plans.fixpoint import FixpointResult, iterate, rounds


def connected_components_result(
    edges: DataFrame,
    max_iter: int = 50,
    initial_components: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> FixpointResult:
    """Delta iteration: each round propagates labels only FROM nodes whose
    label changed in the previous round (LLAMA relaxes only the updated
    frontier, sssp.h:124-161). The changed flag lives in the state row, so
    the convergence probe is a sum over the flag observed INSIDE the
    checkpoint job (one Spark job per round total), and per-round join work
    shrinks with
    the frontier — on a web graph the frontier collapses after ~3 rounds."""
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rounds() as r:
        und, _ = r.keep(symmetrize(edges).repartition(p, SRC))
        nodes, n = r.keep(nodes_of(edges))
        if initial_components is not None:
            # warm start (incremental recompute): hash-min is monotone, so any
            # init with component(v) ≥ fixpoint(v) — e.g. the previous
            # snapshot's labels, id for new nodes — converges to the same
            # fixpoint, usually in far fewer rounds.
            init = (
                nodes.join(initial_components, "id", "left")
                .select(
                    "id",
                    F.coalesce("component", "id").alias("component"),
                    F.lit(True).alias("changed"),
                )
            )
        else:
            init = nodes.select(
                "id", F.col("id").alias("component"), F.lit(True).alias("changed")
            )

        def step(labels: DataFrame, _i: int) -> DataFrame:
            frontier = labels.filter(F.col("changed")).select("id", "component")
            neighbor_min = (
                join_side(frontier, n).join(und, frontier["id"] == und[SRC])
                .groupBy(F.col(DST).alias("id"))
                .agg(F.min("component").alias("nmin"))
            )
            return labels.join(join_side(neighbor_min, n), "id", "left").select(
                "id",
                F.least("component", F.coalesce("nmin", "component")).alias("component"),
                (F.col("nmin").isNotNull() & (F.col("nmin") < F.col("component"))).alias(
                    "changed"
                ),
            )

        result = iterate(
            init,
            step,
            max_iter=max_iter,
            updated_metric=F.sum(F.col("changed").cast("long")),
            checkpoint_dir=checkpoint_dir,
            truncate_every=1 if is_small(n) else 4,
            resume=resume,
            name="connected_components",
        )
    result.state = result.state.select("id", "component")
    result.n_nodes = n
    return result


def connected_components(edges: DataFrame, **kwargs) -> DataFrame:
    """DataFrame[id, component] — component = min reachable node id (exact)."""
    return connected_components_result(edges, **kwargs).state


def connected_components_alternating(
    edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """DataFrame[id, component] by the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — identical output to :func:`connected_components` (component
    = min member id), different scale envelope: hash-min needs O(diameter)
    rounds, star-contraction needs O(log² n) no matter how long the paths
    are. On a web graph (diameter ~ tens) hash-min's lighter rounds win; on
    chain-like graphs (crawl frontiers, citation paths, river networks)
    this is the only shape that finishes.

    Per round, over a pointer-edge set kept with src > dst:
      large-star: every node links its STRICTLY LARGER neighbors to its
        smallest neighbor-or-self;
      small-star: every node links itself and its smaller neighbors to the
        smallest of them.
    Both are one groupBy(min) + one join over the current edge set, which
    only shrinks toward the star forest (v → component min). Convergence
    probe: (count, bit_xor of row hashes) of the edge set, observed INSIDE
    the round's checkpoint job (no extra comparison pass; xor-fold cannot
    overflow at any row count). A signature, not an identity — two
    consecutive DIFFERENT edge sets colliding on both count and xor is
    vanishing, and the fixpoint itself is exact regardless; the paper
    guarantees monotone convergence, the probe just detects it."""
    from pyspark.sql import Observation

    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nodes = nodes_of(edges).persist(StorageLevel.MEMORY_AND_DISK)
    nodes.count()
    # pointer-edge state goes through ``materialize`` (NOT bare
    # localCheckpoint): every star phase joins e with an aggregate OF e,
    # so carried size estimates square twice per round — see
    # graph.materialize for the failure mode
    e = materialize(
        drop_self_loops(edges.select(SRC, DST))
        .select(
            F.greatest(SRC, DST).alias(SRC), F.least(SRC, DST).alias(DST)
        )
        .distinct()
        .repartition(p, SRC)
    )

    sig = None
    for _round in range(max_rounds):
        # large-star over full neighborhoods (both directions)
        nbrs = e.unionByName(e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
        mins = (
            nbrs.groupBy(SRC)
            .agg(F.min(DST).alias("mn"))
            .select(SRC, F.least("mn", SRC).alias("m"))
        )
        prev = e
        e = materialize(
            nbrs.filter(F.col(DST) > F.col(SRC))
            .join(mins, SRC)
            .select(F.col(DST).alias(SRC), F.col("m").alias(DST))
            .distinct()
        )
        prev.unpersist()
        # small-star over the (src > dst)-oriented pointer edges
        smins = e.groupBy(SRC).agg(F.min(DST).alias("m"))
        obs = Observation(f"cc_alt_{_round}")
        prev = e
        e = materialize(
            e.join(smins, SRC)
            .select(
                F.when(F.col(DST) == F.col("m"), F.col(SRC))
                .otherwise(F.col(DST))
                .alias(SRC),
                F.col("m").alias(DST),
            )
            .filter(F.col(SRC) != F.col(DST))
            .distinct()
            .repartition(p, SRC)
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.expr(f"bit_xor(xxhash64({SRC}, {DST}))"), F.lit(0)).alias("h"),
            ),
            observed=True,
        )
        prev.unpersist()
        new_sig = (obs.get["n"], obs.get["h"])
        if new_sig == sig:
            break
        sig = new_sig
    else:
        # exiting by round budget means the (count, xor) signature never
        # stabilized: the edge set is NOT a star forest and the groupBy-min
        # below would silently return under-merged labels — fail loudly
        # like the scc coloring loop does on a non-fixpoint
        raise RuntimeError(
            f"connected_components_alternating did not converge within "
            f"{max_rounds} rounds (theory bound is O(log^2 n) — raise "
            f"max_rounds or check the input for pathological size)"
        )

    # at the fixpoint e is a star forest: src → its component's min id
    centers = e.groupBy(SRC).agg(F.min(DST).alias("component"))
    out = nodes.join(centers.withColumnRenamed(SRC, "id"), "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    ).localCheckpoint(eager=True)
    e.unpersist()
    nodes.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    max_iter: int = 5,
    initial_labels: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """Synchronous label propagation; DataFrame[id, label].

    Deterministic: exactly ``max_iter`` synchronous rounds, tie-break =
    smallest label (so results are engine-independent and match the DuckDB
    oracle bit-for-bit). Nodes keep their label when they have no neighbors.
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = symmetrize(edges).repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    und.count()
    nodes = nodes_of(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()
    init = (
        initial_labels
        if initial_labels is not None
        else nodes.select("id", F.col("id").alias("label"))
    )

    def step(labels: DataFrame, _i: int) -> DataFrame:
        # mode() with smallest-label tie-break, one shuffle:
        # max over struct(cnt, -label) picks highest count then lowest label.
        votes = (
            join_side(labels, n).join(und, labels["id"] == und[SRC])
            .groupBy(F.col(DST).alias("id"), "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("best"))
            .select("id", (-F.col("best.neg")).alias("new_label"))
        )
        return labels.join(join_side(votes, n), "id", "left").select(
            "id", F.coalesce("new_label", "label").alias("label")
        )

    result = iterate(
        init,
        step,
        max_iter=max_iter,
        updated_count=None,  # fixed rounds for cross-engine determinism
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        truncate_every=1 if is_small(n) else 4,
        resume=resume,
        name="label_propagation",
    )
    und.unpersist()
    nodes.unpersist()
    return result.state


def modularity(
    edges: DataFrame, communities: DataFrame, label_col: str = "label"
) -> DataFrame:
    """Newman modularity Q of a community assignment over the undirected
    view — ONE row [modularity: double]. The quality score for any
    community operator in this module (label propagation, CC, star-CC):

        Q = Σ_c [ intra_c / 2m  −  (d_c / 2m)² ]

    computed on the symmetrized double representation, where ``2m`` is its
    row count, ``intra_c`` counts both directions of every intra-community
    edge, and ``d_c`` sums member degrees — ALL exact BIGINTs; floats
    enter only in the final per-community terms (summed, rounded to 6 dp),
    so the value replays bit-stably in any SQL engine.

    Scale: two V-row dictionary joins to tag edge ends + one E-row filter
    + two groupBys — a single pass, no iteration; the communities side is
    a V-row table that co-partitions with the edge ends.
    """
    und = symmetrize(edges)
    lab = communities.select("id", F.col(label_col).alias("_c"))
    # V-row dictionary side hinted shuffle-hash so the E-row und side is
    # STREAMED, never sorted (unhinted these compile to SortMergeJoin —
    # caught by the round-5 plan audit)
    lab_h = lab.hint("shuffle_hash")
    deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("_d"))
    m2 = und.agg(F.count("*").alias("_m2"))
    tagged = und.join(
        lab_h.withColumnRenamed("id", SRC).withColumnRenamed("_c", "_ca"), SRC
    ).join(lab_h.withColumnRenamed("id", DST).withColumnRenamed("_c", "_cb"), DST)
    intra = (
        tagged.filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("_c"))
        .agg(F.count("*").alias("_intra"))
    )
    # V-row ⨝ V-row: hash, never sort (SMJ otherwise — r5 plan audit)
    dsum = (
        lab.join(deg.hint("shuffle_hash"), "id")
        .groupBy("_c")
        .agg(F.sum("_d").alias("_dc"))
    )
    return (
        dsum.join(intra.hint("shuffle_hash"), "_c", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            (
                F.coalesce("_intra", F.lit(0)).cast("double") / F.col("_m2")
                - (F.col("_dc").cast("double") / F.col("_m2"))
                * (F.col("_dc").cast("double") / F.col("_m2"))
            ).alias("_t")
        )
        .agg(F.round(F.sum("_t"), 6).alias("modularity"))
    )


def _louvain_rounds(
    und_w: DataFrame,
    deg: DataFrame,
    m2: int,
    rounds: int,
    n_nodes: int,
    name: str = "louvain",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """The staged Louvain move rounds over a WEIGHTED symmetric edge table
    ``und_w[src, dst, w]`` (w BIGINT, no self-loop rows) with node masses
    ``deg[id, k]`` (k INCLUDES 2× any self-loop weight — the phase-2
    contraction invariant) and global mass ``m2`` = Σk. Level 1 passes
    w = 1 and plain degrees, making this exactly the unweighted move rule;
    level 2+ passes the contracted multigraph, where the SAME integer gain
    score(c) = m2·e_{v,c} − k_v·Σ'_c stays exact because contracted
    weights are edge counts. Returns [id, comm] after exactly ``rounds``
    staged rounds (movers: (id + r) % 2 == 0; see louvain_communities).
    ``n_nodes`` (the level-1 node count) sizes every state join through
    ``graph.join_side`` and picks the truncation cadence."""
    # node mass k is a per-node CONSTANT — carried in the round state
    # (the pagerank/trophic convention) so Σ'_c is a plain aggregate over
    # the state instead of a state⨝deg broadcast join, and the gain join
    # drops its deg side: two fewer broadcast builds and one fewer join
    # per round, bit-identical integer scores.
    init = deg.select("id", F.col("id").alias("comm"), "k")

    def step(state: DataFrame, it: int) -> DataFrame:
        movers = F.pmod(F.col("id") + F.lit(it), F.lit(2)) == 0
        # e_{v,c}: weight of v's edges into community c (edge (u→v) makes
        # u a neighbor of v under symmetry — same orientation trick as LP);
        # only this round's movers need candidates, so the edge stream is
        # pre-filtered on the gathering endpoint's parity (halves the join)
        evc = (
            join_side(state.select("id", "comm"), n_nodes).join(
                und_w.filter(F.pmod(F.col(DST) + F.lit(it), F.lit(2)) == 0),
                state["id"] == und_w[SRC],
            )
            .groupBy(F.col(DST).alias("id"), F.col("comm").alias("c"))
            .agg(F.sum("w").cast("long").alias("e"))
        )
        # the stay-candidate must exist even when v has no neighbor in its
        # own community (e=0); max() keeps the summed value when it does
        cand = (
            evc.unionByName(
                state.filter(movers).select(
                    "id", F.col("comm").alias("c"), F.lit(0).cast("long").alias("e")
                )
            )
            .groupBy("id", "c")
            .agg(F.max("e").alias("e"))
        )
        tot = (
            state.groupBy(F.col("comm").alias("c"))
            .agg(F.sum("k").alias("tot"))
        )
        scored = (
            cand.join(join_side(state, n_nodes), "id")
            .join(join_side(tot, n_nodes), "c")
            .select(
                "id",
                "c",
                (
                    F.lit(m2) * F.col("e")
                    - F.col("k")
                    * (
                        F.col("tot")
                        - F.when(F.col("c") == F.col("comm"), F.col("k")).otherwise(
                            F.lit(0)
                        )
                    )
                ).alias("score"),
            )
        )
        picks = (
            scored.groupBy("id")
            .agg(
                F.max(F.struct(F.col("score"), (-F.col("c")).alias("negc"))).alias("b")
            )
            .select("id", (-F.col("b.negc")).alias("new_comm"))
        )
        return state.join(join_side(picks, n_nodes), "id", "left").select(
            "id", F.coalesce("new_comm", "comm").alias("comm"), "k"
        )

    result = iterate(
        init,
        step,
        max_iter=rounds,
        updated_count=None,  # fixed rounds for cross-engine determinism
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        truncate_every=1 if is_small(n_nodes) else 4,
        resume=resume,
        name=name,
    )
    return result.state.select("id", "comm")


def louvain_communities(
    edges: DataFrame,
    max_iter: int = 4,
    weight_col: str | None = None,
    weight_resolution: int = 128,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """DataFrame[id, comm] — staged-synchronous modularity-gain label
    updates: the distributed phase-1 Louvain variant (Blondel et al. 2008
    move rule evaluated data-parallel, as in parallel-Louvain systems).
    In round r only nodes with (id + r) % 2 == 0 may move — fully
    synchronous updates oscillate on symmetric pairs (two singletons
    swap labels forever; the known parallel-Louvain/LP pathology), while
    the deterministic parity staging breaks the symmetry and converges
    (two triangles + bridge reach the optimal split by round 4). A moving
    node adopts the neighbor community c maximizing the modularity gain,
    evaluated with v removed from its own community; ties break to the
    smallest community label; exactly ``max_iter`` rounds run
    (fixed-round determinism, the label_propagation convention).

    **Exact-integer gain comparison** — the cross-engine trick: for fixed v
    the candidates' ΔQ ordering equals the ordering of

        score(c) = 2m·e_{v,c} − k_v·(Σ_c − [c = comm(v)]·k_v)

    (all BIGINTs: 2m = |symmetrized edge set|, e_{v,c} = v's edges into c,
    k_v = degree, Σ_c = total degree mass of c), because ΔQ(c) =
    score(c)/(2m²) + terms constant in c. No floats anywhere, so the
    DuckDB oracle unrolls the identical rounds bit-for-bit. Overflow
    bound: |score| ≤ 2m·k_v < 2^63 for graphs up to ~2^31 edges with
    hub degree ≤ 2^31 — beyond that, promote to DECIMAL.

    Plan per round (LP shape + one C-row aggregate): state joins the
    cached symmetrized edge table (state side hinted so edges stream),
    e_{v,c} and Σ_c are map-side-combinable groupBys, the per-node argmax
    is one max(struct) — only V-row frames shuffle. This is the community
    operator with an OBJECTIVE; ``modularity()`` scores its output, and
    ``louvain_multilevel`` stacks contraction phases on top.
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nodes = nodes_of(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()
    if weight_col is not None:
        # weighted gain with exact integers: quantize ŵ = floor(w·res)+1
        # per canonical pair (max over directions), emit both directions —
        # the walks-operator weight convention, so the oracle replays it
        pair = (
            drop_self_loops(edges)
            .select(
                F.least(SRC, DST).alias(SRC),
                F.greatest(SRC, DST).alias(DST),
                F.col(weight_col).cast("double").alias("_wd"),
            )
            .groupBy(SRC, DST)
            .agg(
                (
                    F.floor(
                        F.max("_wd") * F.lit(float(weight_resolution))
                    ).cast("long")
                    + F.lit(1).cast("long")
                ).alias("w")
            )
        )
        und_w = (
            pair.unionByName(
                pair.select(
                    F.col(DST).alias(SRC), F.col(SRC).alias(DST), "w"
                )
            )
            .repartition(p, SRC)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        und = und_w
        deg = (
            und_w.groupBy(F.col(SRC).alias("id"))
            .agg(F.sum("w").cast("long").alias("k"))
            .repartition(p, "id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        m2 = deg.agg(F.sum("k").cast("long").alias("s")).collect()[0]["s"]
    else:
        und = (
            symmetrize(edges)
            .repartition(p, SRC)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        m2 = und.count()  # Σ_v k_v = 2m (each undirected edge twice)
        deg = (
            und.groupBy(F.col(SRC).alias("id"))
            .agg(F.count("*").alias("k"))
            .repartition(p, "id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        und_w = und.withColumn("w", F.lit(1).cast("long"))
    out = _louvain_rounds(
        und_w, deg, m2, max_iter, n,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        resume=resume,
    )
    und.unpersist()
    nodes.unpersist()
    deg.unpersist()
    return out


def louvain_multilevel(
    edges: DataFrame,
    levels: int = 2,
    rounds_per_level: int = 4,
) -> DataFrame:
    """DataFrame[id, comm] — full multi-level Louvain: run the staged move
    rounds (phase 1), CONTRACT communities into supernodes (phase 2: the
    contracted multigraph's inter-community edge counts become weights,
    intra-community counts become self-loop mass folded into supernode
    degree k_A = Σ_B W(A,B) + 2·W(A,A), total mass 2m unchanged), and
    repeat the move rounds on the contracted graph — the step that turns
    the one-level heuristic into the real Louvain algorithm (Blondel et
    al. 2008 §2). Final labels compose: comm(v) = level-L label of v's
    level-1 community. All contracted weights are integer edge counts, so
    the exact-integer gain score survives every level and the DuckDB
    oracle replays the whole stack.

    Scale: each contraction SHRINKS the graph (supernodes = communities),
    so level 2+ rounds cost a fraction of level 1; the level-1 rounds
    dominate, with the audited LP-shaped plan. The A→B mapping joins are
    the contract_graph dictionary pattern.
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = symmetrize(edges).repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    m2 = und.count()
    nodes = nodes_of(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()
    deg = (
        und.groupBy(F.col(SRC).alias("id"))
        .agg(F.count("*").alias("k"))
        .repartition(p, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    assign = materialize(
        _louvain_rounds(
            und.withColumn("w", F.lit(1).cast("long")), deg, m2,
            rounds_per_level, n, name="louvain_l1",
        )
    )
    for lvl in range(2, levels + 1):
        a_src = assign.select(F.col("id").alias(SRC), F.col("comm").alias("ca"))
        a_dst = assign.select(F.col("id").alias(DST), F.col("comm").alias("cb"))
        mapped = (
            und.join(a_src, SRC).join(a_dst, DST).select("ca", "cb")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # k_A over ALL mapped rows: intra rows appear twice (both
        # directions), contributing exactly 2·W(A,A) — the self-loop mass.
        # Both contracted tables feed EVERY round of the level's move
        # loop — persist them or each round re-runs the contraction
        # groupBys (the HITS ≥2-references lesson)
        deg2 = (
            mapped.groupBy(F.col("ca").alias("id"))
            .agg(F.count("*").alias("k"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        und2 = (
            mapped.filter(F.col("ca") != F.col("cb"))
            .groupBy(F.col("ca").alias(SRC), F.col("cb").alias(DST))
            .agg(F.count("*").cast("long").alias("w"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        sup = _louvain_rounds(
            und2, deg2, m2, rounds_per_level, n,
            name=f"louvain_l{lvl}",
        )
        prev = assign
        assign = materialize(
            prev.join(
                sup.select(F.col("id").alias("comm"), F.col("comm").alias("sc")),
                "comm",
            ).select("id", F.col("sc").alias("comm"))
        )
        mapped.unpersist()
        deg2.unpersist()
        und2.unpersist()
        prev.unpersist()
    und.unpersist()
    nodes.unpersist()
    deg.unpersist()
    return assign


def modularity_weighted(
    edges: DataFrame,
    communities: DataFrame,
    label_col: str = "label",
    weight_col: str = "weight",
    weight_resolution: int = 128,
) -> DataFrame:
    """Weighted Newman modularity of a community assignment — ONE row
    [modularity: double]; the objective ``louvain_communities(...,
    weight_col=...)`` climbs, scored exactly:

        Q_w = Σ_c [ W_intra_c / W  −  (S_c / W)² ]

    over the symmetrized QUANTIZED view (ŵ = floor(w·res)+1 per canonical
    pair, max over directions — the exact-integer convention shared with
    weighted Louvain / weighted walks, so every term is a BIGINT until
    the final per-community division, rounded to 6 dp). W = total
    symmetrized mass, W_intra_c = intra-community mass (both directions),
    S_c = Σ_{v∈c} strength(v).

    Plan: identical join shape to ``modularity()`` — two V-row dictionary
    joins (shuffle-hash hinted) tag the E-row symmetric table, then two
    map-side-combinable groupBys; one pass, no iteration.
    """
    pair = (
        drop_self_loops(edges)
        .select(
            F.least(SRC, DST).alias(SRC),
            F.greatest(SRC, DST).alias(DST),
            F.col(weight_col).cast("double").alias("_wd"),
        )
        .groupBy(SRC, DST)
        .agg(
            (
                F.floor(F.max("_wd") * F.lit(float(weight_resolution))).cast("long")
                + F.lit(1).cast("long")
            ).alias("w")
        )
    )
    und_w = pair.unionByName(
        pair.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "w")
    )
    lab = communities.select("id", F.col(label_col).alias("_c"))
    lab_h = lab.hint("shuffle_hash")
    deg = und_w.groupBy(F.col(SRC).alias("id")).agg(F.sum("w").alias("_k"))
    wtot = und_w.agg(F.sum("w").alias("_w2"))
    tagged = und_w.join(
        lab_h.withColumnRenamed("id", SRC).withColumnRenamed("_c", "_ca"), SRC
    ).join(lab_h.withColumnRenamed("id", DST).withColumnRenamed("_c", "_cb"), DST)
    intra = (
        tagged.filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("_c"))
        .agg(F.sum("w").alias("_intra"))
    )
    # V-row ⨝ V-row: hash, never sort (SMJ otherwise — r5 plan audit)
    ssum = (
        lab.join(deg.hint("shuffle_hash"), "id")
        .groupBy("_c")
        .agg(F.sum("_k").alias("_sc"))
    )
    return (
        ssum.join(intra.hint("shuffle_hash"), "_c", "left")
        .crossJoin(F.broadcast(wtot))
        .select(
            (
                F.coalesce("_intra", F.lit(0)).cast("double") / F.col("_w2")
                - (F.col("_sc").cast("double") / F.col("_w2"))
                * (F.col("_sc").cast("double") / F.col("_w2"))
            ).alias("_t")
        )
        .agg(F.round(F.sum("_t"), 6).alias("modularity"))
    )


def connected_components_decremental(
    kept: DataFrame, deleted: DataFrame, prior: DataFrame
) -> DataFrame:
    """DataFrame[id, component] of the graph AFTER edge deletions,
    recomputing ONLY the components the deletions touched — the
    delete-side sibling of the ``initial_components`` warm start (which
    is valid only for INSERTS: hash-min is monotone downward, so labels
    of a split component can never rise back to the new fixpoint).

    Correctness: an edge never crosses a prior-component boundary, so a
    deletion can only split WITHIN its prior component; every other
    component's min-id labeling is untouched. The affected subgraph is
    re-solved cold; nodes that lost their last edge leave the node set
    (matching cold CC on the kept edge table, which is defined over
    nodes_of(kept)).

    Scale shape: the affected set is a broadcast-or-hash semi-join chain
    (deleted endpoints → prior labels → affected components → member
    nodes); the cold recompute runs on the affected subgraph only — on a
    web graph where deletions touch a few domains, that is a vanishing
    fraction of E. Worst case (a deletion in the giant component) it
    degrades to one full CC, never worse than cold.
    """
    # components whose member set a deletion touched
    ends = (
        deleted.select(F.col(SRC).alias("id"))
        .unionByName(deleted.select(F.col(DST).alias("id")))
        .distinct()
    )
    aff_comps = (
        prior.join(ends.hint("shuffle_hash"), "id", "left_semi")
        .select("component")
        .distinct()
    )
    aff_nodes = prior.join(
        aff_comps.hint("shuffle_hash"), "component", "left_semi"
    ).select("id")
    sub = kept.join(
        aff_nodes.withColumnRenamed("id", SRC).hint("shuffle_hash"),
        SRC,
        "left_semi",
    )
    resolved = connected_components(sub)
    untouched = (
        prior.join(aff_comps.hint("shuffle_hash"), "component", "left_anti")
        .select("id", "component")
    )
    return untouched.unionByName(resolved.select("id", "component"))


def label_spreading(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 8,
) -> DataFrame:
    """Seeded (semi-supervised) label spreading; DataFrame[id, label].

    ``seeds`` is DataFrame[id, label] — the clamped ground-truth set (in a
    web corpus: pages with known topic/language/spam labels). Every round,
    each node recomputes its label as the **majority vote of its labeled
    neighbors** (tie-break = smallest label, same mode() shape as
    :func:`label_propagation`); nodes with no labeled neighbor keep their
    current label (initially NULL); seed nodes are re-clamped every round
    (Zhu & Ghahramani 2002 label propagation with clamping). Exactly
    ``max_iter`` synchronous rounds — deterministic, engine-portable,
    matching the unrolled SQL oracle bit-for-bit.

    Unlike :func:`label_propagation` (unseeded, every node starts with its
    own id), the fixpoint here classifies the UNLABELED set from a small
    clamped frontier — the transductive classification operator.

    Scale: identical per-round cost shape to label_propagation — one
    E-row vote shuffle + one V-row argmax + one V-row state join; the
    labeled-only filter makes early rounds cheaper (votes flow only out
    of the reached set). State follows the broadcast≤100k/shuffle-hash
    policy.
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = symmetrize(edges).repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    und.count()
    nodes = nodes_of(edges).repartition(p, "id").persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()
    sd = seeds.select("id", F.col("label").cast("long").alias("_seed"))
    init = nodes.join(sd, "id", "left").select(
        "id",
        F.col("_seed").alias("label"),
        F.col("_seed").isNotNull().alias("seeded"),
        F.col("_seed"),
    )

    def step(state: DataFrame, _i: int) -> DataFrame:
        votes = (
            join_side(
                state.filter(F.col("label").isNotNull()).select("id", "label"), n
            )
            .join(und, F.col("id") == und[SRC])
            .groupBy(F.col(DST).alias("id"), "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("id")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                ).alias("best")
            )
            .select("id", (-F.col("best.neg")).alias("new_label"))
        )
        return state.join(join_side(votes, n), "id", "left").select(
            "id",
            F.when(F.col("seeded"), F.col("_seed"))
            .otherwise(F.coalesce("new_label", "label"))
            .alias("label"),
            "seeded",
            "_seed",
        )

    result = iterate(
        init,
        step,
        max_iter=max_iter,
        updated_count=None,  # fixed rounds for cross-engine determinism
        truncate_every=1 if is_small(n) else 4,
        name="label_spreading",
    )
    und.unpersist()
    nodes.unpersist()
    return result.state.select("id", "label")


def label_propagation_weighted(
    edges: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 5,
    initial_labels: DataFrame | None = None,
) -> DataFrame:
    """Weighted synchronous label propagation; DataFrame[id, label].

    Votes are weighted by edge weight instead of multiplicity — the
    standard community-detection refinement once a link graph carries
    co-citation / similarity weights. Semantics mirror
    :func:`label_propagation`: exactly ``max_iter`` synchronous rounds,
    argmax over summed incident weight per label, tie-break = smallest
    label; the undirected weight of a pair is the MAX over its directed /
    duplicate rows (the s-core convention from weighted k_core).

    **Cross-engine exactness**: each edge weight is quantized ONCE to
    integer micro-units (round(w·1e6) as BIGINT) — per-label vote sums
    are then order-independent exact integers on any engine, so the
    argmax can never flip on a last-ulp float drift (the unigram-NLL
    micro-nat trick applied to votes).
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wq = F.round(F.col(weight_col).cast("double") * F.lit(1_000_000.0)).cast("long")
    base = edges.filter(F.col(SRC) != F.col(DST)).select(SRC, DST, wq.alias("_w"))
    und = (
        base.unionByName(base.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "_w"))
        .groupBy(SRC, DST)
        .agg(F.max("_w").alias("_w"))
        .repartition(p, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    und.count()
    nodes = nodes_of(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()
    init = (
        initial_labels
        if initial_labels is not None
        else nodes.select("id", F.col("id").alias("label"))
    )

    def step(labels: DataFrame, _i: int) -> DataFrame:
        votes = (
            join_side(labels, n).join(und, labels["id"] == und[SRC])
            .groupBy(F.col(DST).alias("id"), "label")
            .agg(F.sum("_w").alias("wcnt"))
            .groupBy("id")
            .agg(
                F.max(
                    F.struct(F.col("wcnt"), (-F.col("label")).alias("neg"))
                ).alias("best")
            )
            .select("id", (-F.col("best.neg")).alias("new_label"))
        )
        return labels.join(join_side(votes, n), "id", "left").select(
            "id", F.coalesce("new_label", "label").alias("label")
        )

    result = iterate(
        init,
        step,
        max_iter=max_iter,
        updated_count=None,  # fixed rounds for cross-engine determinism
        truncate_every=1 if is_small(n) else 4,
        name="label_propagation_weighted",
    )
    und.unpersist()
    nodes.unpersist()
    return result.state


def community_conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """DataFrame[community, n_nodes, cut, vol, conductance] — per-community
    conductance φ(S) = cut(S) / min(vol(S), 2m − vol(S)) over the simple
    undirected graph (cut = boundary edges, vol = Σ degree = 2·internal +
    cut). THE community-quality metric next to modularity: modularity
    rewards density, conductance exposes leaky boundaries — a community
    that scores well on both is real. NULL conductance for communities
    with zero volume on one side (singletons in an empty graph, or S =
    the whole graph).

    ``labels`` is any DataFrame[id, <label col>] — the gate feeds
    label-propagation output; Louvain / CC labels plug in unchanged.

    Plan: one canonical-edge double label join (E rows), two
    map-side-combinable count aggregates, one label-size aggregate, all
    integer-exact; the φ division happens once per community on exact
    BIGINTs."""
    lab_col = [c for c in labels.columns if c != "id"][0]
    lp = labels.select("id", F.col(lab_col).alias("_l"))
    und = (
        drop_self_loops(edges.select(SRC, DST))
        .select(F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST))
        .distinct()
    )
    m = und.count()
    la = lp.select(F.col("id").alias(SRC), F.col("_l").alias("la"))
    lb = lp.select(F.col("id").alias(DST), F.col("_l").alias("lb"))
    e2 = und.join(la, SRC).join(lb, DST).persist(StorageLevel.MEMORY_AND_DISK)
    internal = (
        e2.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count("*").alias("i"))
    )
    cut = (
        e2.filter(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("community"))
        .unionByName(
            e2.filter(F.col("la") != F.col("lb")).select(
                F.col("lb").alias("community")
            )
        )
        .groupBy("community")
        .agg(F.count("*").alias("c"))
    )
    sizes = lp.groupBy(F.col("_l").alias("community")).agg(
        F.count("*").alias("n_nodes")
    )
    vol = F.lit(2) * F.coalesce("i", F.lit(0)) + F.coalesce("c", F.lit(0))
    small_side = F.least(vol, F.lit(2 * m) - vol)
    out = (
        sizes.join(internal, "community", "left")
        .join(cut, "community", "left")
        .select(
            "community",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce("c", F.lit(0)).cast("long").alias("cut"),
            vol.cast("long").alias("vol"),
            F.round(
                F.when(
                    small_side > 0,
                    F.coalesce("c", F.lit(0)) / small_side.cast("double"),
                ),
                6,
            ).alias("conductance"),
        )
    )
    out = out.localCheckpoint(eager=True)
    e2.unpersist()
    return out


CPM_ID_BITS = 31  # edge-key encoding least*2^31+greatest (ids < 2^31)


def clique_percolation(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """DataFrame[id, community] — OVERLAPPING k=3 clique-percolation
    communities (Palla et al., Nature 435:814, 2005): a community is a
    maximal union of triangles chained by shared edges; a node belongs to
    one row per community containing it (hub nodes bridge several).

    Plan — everything reuses audited kernels: (1) enumerate triangles with
    the degree-oriented skew-safe kernel (hubs wedge at their low-degree
    neighbors); (2) re-key each triangle's three undirected edges as
    least·2³¹+greatest longs; (3) link the three edge-keys pairwise — two
    triangles sharing an edge become connected through that key — and run
    the hash-min CC fixpoint over the link graph (nodes = triangle-
    participating edges only, so the state is O(#triangle edges), not
    O(E)); (4) project components back to endpoints. Edges in no triangle
    are in no community, per the definition. The long encoding bounds ids
    to 2³¹ — beyond that, swap the key to a (lo, hi) struct (Spark min()
    orders structs lexicographically); the gate keeps the long form so the
    DuckDB oracle replays it verbatim.
    """
    from .triangles import oriented_edges

    b = F.lit(1 << CPM_ID_BITS)

    def ekey(x, y):
        return (F.least(x, y).cast("long") * b + F.greatest(x, y)).alias("k")

    e = materialize(oriented_edges(edges, orient="degree"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e1.src") == F.col("e3.src"))
            & (F.col("e2.dst") == F.col("e3.dst")),
            "left_semi",
        )
        .select(
            ekey(F.col("e1.src"), F.col("e1.dst")).alias("ab"),
            ekey(F.col("e1.dst"), F.col("e2.dst")).alias("bc"),
            ekey(F.col("e1.src"), F.col("e2.dst")).alias("ac"),
        )
    )
    links = (
        tris.select(F.col("ab").alias(SRC), F.col("bc").alias(DST))
        .unionAll(tris.select(F.col("bc").alias(SRC), F.col("ac").alias(DST)))
        .unionAll(tris.select(F.col("ab").alias(SRC), F.col("ac").alias(DST)))
    )
    # materialize: three star phases per round would otherwise re-run the
    # whole triangle enumeration each time they touch the link set
    links = materialize(links)
    # alternating-star, not hash-min: communities chained edge-by-edge give
    # the link graph a diameter ~2x the node graph's, and star contraction
    # converges in O(log^2 n) rounds regardless of chain length
    comp = connected_components_alternating(links, max_rounds=max_iter)
    e.unpersist()
    return (
        comp.select(
            # bit ops, not / — double division loses exactness past 2^53
            F.shiftright(F.col("id"), CPM_ID_BITS).alias("u"),
            F.col("id").bitwiseAND(F.lit((1 << CPM_ID_BITS) - 1)).alias("v"),
            "component",
        )
        .select(
            F.explode(F.array("u", "v")).alias("id"),
            F.col("component").alias("community"),
        )
        .distinct()
    )


def partition_nmi(
    x: DataFrame,
    y: DataFrame,
    label_x: str = "component",
    label_y: str = "label",
) -> DataFrame:
    """1-row DataFrame[n_nodes, h_x, h_y, mutual_info, nmi] — normalized
    mutual information 2·I(X;Y)/(H(X)+H(Y)) between two node labelings
    (the standard partition-agreement score, e.g. Danon et al. 2005, for
    comparing community detections). Inputs are [id, label] tables; nodes
    present in both are scored.

    Determinism contract: every Σ c·ln c term is quantized to integer
    MICRO-NATS and summed exactly (the token_entropy trick) — with
    A = Σ_ij n_ij ln n_ij, B = Σ_i n_i ln n_i, C = Σ_j n_j ln n_j held as
    exact BIGINTs, I = (A−B−C)/n·10⁻⁶ + ln n and H = ln n − B/n·10⁻⁶
    involve a handful of exact ints each, so cross-engine float
    accumulation order cannot move the 6-dp output.

    Scale shape: one equi-join on id, one groupBy(lx, ly) — the joint
    histogram, ≤ |labels_x|·|labels_y| rows but in practice ~max cluster
    count — and the marginals fold from the joint without touching the
    node table again. Three tiny aggregates leave the executors.
    """
    jx = x.select(F.col("id"), F.col(label_x).alias("lx"))
    jy = y.select(F.col("id"), F.col(label_y).alias("ly"))
    joint = materialize(
        jx.join(jy, "id").groupBy("lx", "ly").agg(F.count("*").alias("c"))
    )

    def mnats(col):  # exact integer micro-nats of one count column
        d = col.cast("double")
        return F.sum(F.round(d * F.log(d) * F.lit(1e6)).cast("long"))

    a = joint.agg(mnats(F.col("c")).alias("a"), F.sum("c").alias("n"))
    b = (
        joint.groupBy("lx")
        .agg(F.sum("c").alias("m"))
        .agg(mnats(F.col("m")).alias("b"))
    )
    cagg = (
        joint.groupBy("ly")
        .agg(F.sum("c").alias("m"))
        .agg(mnats(F.col("m")).alias("cc"))
    )
    ln_n = F.log(F.col("n").cast("double"))
    mi = (F.col("a") - F.col("b") - F.col("cc")) / F.col("n") * F.lit(1e-6) + ln_n
    hx = ln_n - F.col("b") / F.col("n") * F.lit(1e-6)
    hy = ln_n - F.col("cc") / F.col("n") * F.lit(1e-6)
    return (
        a.crossJoin(b)
        .crossJoin(cagg)
        .select(
            F.col("n").cast("long").alias("n_nodes"),
            F.round(hx, 6).alias("h_x"),
            F.round(hy, 6).alias("h_y"),
            F.round(mi, 6).alias("mutual_info"),
            F.round(
                F.when(hx + hy > 0, F.lit(2.0) * mi / (hx + hy)).otherwise(
                    F.lit(1.0)
                ),
                6,
            ).alias("nmi"),
        )
    )


def bipartite_check(edges: DataFrame) -> DataFrame:
    """Odd-cycle detection — DataFrame[component, n_nodes, is_bipartite]:
    per connected component (component = min member id, matching
    :func:`connected_components`), whether the component is 2-colorable.
    The classic structure probe for link graphs (host-page / query-click
    graphs SHOULD be bipartite; an odd cycle is a wiring bug) — and the
    textbook reduction that needs no new kernel:

    Run hash-min CC once on the PARITY-DOUBLED graph — each undirected
    edge {u,v} becomes {u⁺,v⁻} and {u⁻,v⁺} (copies 2u / 2u+1). A
    same-parity walk u→u exists iff the component has an odd cycle, so the
    two copies of u land in ONE doubled component iff u's component is
    non-bipartite; otherwise the doubled component splits into exactly the
    two color classes. Self-loops are odd cycles of length 1 and are
    caught naturally ({u⁺,u⁻} merges the copies).

    Per original node, both labels come back in one pivot (min/max over
    the two parities), the original component id is
    min(c⁺,c⁻) >> 1 (the doubled min label is 2·(min member id) + parity),
    and the flag aggregates with bool_and — one CC run on a 2|V|/2|E|
    graph, no new iteration shape. Reference parity: composition of the
    hash-min kernel the reference's CC benchmark defines
    (benchmark/benchmarks/*, hash-min label convergence)."""
    e = drop_self_loops(edges.select(SRC, DST))
    loops = (
        edges.filter(F.col(SRC) == F.col(DST))
        .select(F.col(SRC).alias("_u"))
        .distinct()
    )
    doubled = e.select(
        (F.col(SRC) * 2).alias(SRC), (F.col(DST) * 2 + 1).alias(DST)
    ).unionByName(
        e.select((F.col(DST) * 2).alias(SRC), (F.col(SRC) * 2 + 1).alias(DST))
    ).unionByName(
        loops.select((F.col("_u") * 2).alias(SRC), (F.col("_u") * 2 + 1).alias(DST))
    )
    cc = connected_components(doubled)
    per_node = (
        cc.groupBy((F.col("id") / 2).cast("long").alias("id"))
        .agg(F.min("component").alias("_cmin"), F.max("component").alias("_cmax"))
        .select(
            "id",
            (F.col("_cmin") / 2).cast("long").alias("component"),
            (F.col("_cmin") != F.col("_cmax")).alias("_bip"),
        )
    )
    return per_node.groupBy("component").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min(F.col("_bip").cast("int")).cast("boolean").alias("is_bipartite"),
    )


def eulerian_census(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Eulerian-path/circuit feasibility census → one-row DataFrame
    [n_nodes, n_odd, n_components, has_circuit, has_path].

    Published frame: Euler (1736) / Hierholzer (1873) — the undirected
    simple graph has an Eulerian circuit iff every vertex has even
    degree and all edges lie in one connected component; an Eulerian
    path (possibly open) iff additionally at most two vertices have odd
    degree. The census reports the two obstruction counts (odd-degree
    vertices, non-trivial components over the edge-bearing vertices) and
    the two feasibility verdicts — the same shape as the gated
    bipartiteness check.

    Spark plan: one degree aggregation + the audited hash-min CC
    fixpoint restricted to edge-bearing vertices, folded to a 1-row
    aggregate; nothing new shuffles beyond the CC kernel itself.
    """
    und = symmetrize(drop_self_loops(edges.select(SRC, DST)))
    deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    comp = connected_components(edges, max_iter=max_iter)
    return (
        deg.join(comp, "id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum((F.col("deg") % 2).cast("long")).cast("long").alias("n_odd"),
            F.countDistinct("component").cast("long").alias("n_components"),
        )
        .select(
            "n_nodes",
            "n_odd",
            "n_components",
            ((F.col("n_odd") == 0) & (F.col("n_components") == 1)).alias("has_circuit"),
            ((F.col("n_odd") <= 2) & (F.col("n_components") == 1)).alias("has_path"),
        )
    )
