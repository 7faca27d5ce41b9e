"""Deterministic random-walk sampling — the DeepWalk/node2vec corpus stage.

Graph-embedding pipelines at 100 TB start by materializing walks (node
sequences) that a skip-gram trainer then consumes; the walk generator is
the graph-side operator. This one is **deterministic**: step t of walk w
moves to out-neighbor index ``H(walk_id:t:seed) mod out_deg`` where H is
the md5-derived 60-bit hash the text operators use — no RNG state, so the
same walks come out of any partitioning, any engine (the DuckDB oracle
replays them exactly), and any resume.

Spark plan per step (the canonical distributed walker):
    frontier(walk_id, cur) ⨝ deg on cur          → pick = H % out_deg + 1
    ... ⨝ adj on (src, idx) = (cur, pick)        → next node
Two equi-joins against ONCE-built persisted tables: deg is partitioned on
src, adj on (src, idx) — each streams through its join while only the
walker state (≤ |V|·walks_per_node rows) shuffles, twice per step. The
composite-key second join makes per-walker work O(1): a hub's 10⁶
neighbors are never scanned, the picked index row is hash-looked-up
(a single `cur = src AND idx = pick` filter-join would scan the whole
neighbor group per walker). Walks ending at a sink (out-degree 0) simply
stop — shorter sequences, like a crawler hitting a dead end.

**Hub-safe index build**: the adjacency index is a per-src rank, but a
naive ``row_number() over (partition by src order by dst)`` sorts the
largest hub's entire out-list in ONE task — the single straggler in an
otherwise skew-proof operator on a web graph. :func:`adjacency_index`
instead ranks in two phases over the canonical ``(dst % salts, dst)``
order: rank *within* (src, salt) — max task sort ≈ out_deg/salts — then
add per-(src, salt) offsets from a count aggregate (the offsets window
partitions by src but runs over ≤ ``salts`` rows per src, never the
out-list). The composed rank is exactly the global rank in (salt, dst)
order, so walks stay engine-replayable: the oracle's single window just
orders by ``(dst % salts, dst)``.

**Weighted walks** (``weight_col``): step to neighbor i with probability
w_i/Σw. Weights are quantized to integers ŵ = floor(w·resolution)+1 so
cumulative sums are exact in any engine; neighbor i owns the contiguous
range [lo_i, hi_i) of [0, T) (T = Σŵ, same salted two-phase cumsum as the
index) and the walker draws u = H mod T. The range member is found via a
precomputed **bucket lookup table**: each src's [0, T) is cut into
≈ out_deg buckets of width step = max(1, ⌊T/out_deg⌋) and each neighbor
row is replicated into the buckets its range spans (≤ 2·|E| rows total);
a walker equi-joins on (src, ⌊u/step⌋) and filters lo ≤ u < hi — expected
O(1) candidates instead of scanning the hub's whole range list with a
non-equi join.

Reference tie-in: the reference's random traversal support is
pick_random_node + the iterator templates (ll_mlcsr_graph.h:677-682) over
the loader's optional edge-weight property (ll_load_utils.h:1076-1090);
walk sampling composes those the way its benchmark drivers do, expressed
here as data-parallel joins instead of per-walker loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import token_hash
from ..graph import DST, SRC, join_side, nodes_of

ADJ_SALTS = 64  # sub-lists per src in the two-phase rank (bounds task sorts)


def adjacency_index(e: DataFrame, salts: int = ADJ_SALTS) -> DataFrame:
    """DataFrame[src, dst, idx] — idx is the 1-based rank of dst within
    src's out-list in ``(dst % salts, dst)`` order, built WITHOUT any
    single task ever sorting a whole hub's out-list (see module doc)."""
    salted = e.withColumn("salt", F.pmod(F.col(DST), F.lit(salts)))
    ranked = salted.withColumn(
        "r", F.row_number().over(Window.partitionBy(SRC, "salt").orderBy(DST))
    )
    counts = salted.groupBy(SRC, "salt").agg(F.count("*").alias("c"))
    w_off = (
        Window.partitionBy(SRC)
        .orderBy("salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # ≤ `salts` rows per src flow through this window — never the out-list
    offs = counts.select(
        SRC, "salt", F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off")
    )
    return ranked.join(offs, [SRC, "salt"]).select(
        SRC, DST, (F.col("off") + F.col("r")).alias("idx")
    )


def weighted_adjacency_ranges(
    e: DataFrame, weight_col: str, resolution: int = 128, salts: int = ADJ_SALTS
) -> DataFrame:
    """DataFrame[src, dst, lo, hi] — contiguous integer ranges [lo, hi)
    partitioning [0, T_src) proportionally to the quantized weights
    ŵ = floor(w·resolution)+1, in ``(dst % salts, dst)`` order; same
    hub-safe two-phase construction as :func:`adjacency_index` (cumsum
    within (src, salt), per-salt offsets from a sum aggregate)."""
    iw = (
        F.floor(F.col(weight_col).cast("double") * F.lit(float(resolution))).cast(
            "long"
        )
        + F.lit(1).cast("long")
    )
    salted = e.withColumn("salt", F.pmod(F.col(DST), F.lit(salts))).withColumn(
        "iw", iw
    )
    w_cum = (
        Window.partitionBy(SRC, "salt")
        .orderBy(DST)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = salted.withColumn("cum", F.sum("iw").over(w_cum))
    totals = salted.groupBy(SRC, "salt").agg(F.sum("iw").alias("c"))
    w_off = (
        Window.partitionBy(SRC)
        .orderBy("salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        SRC,
        "salt",
        F.coalesce(F.sum("c").over(w_off), F.lit(0).cast("long")).alias("off"),
    )
    return ranked.join(offs, [SRC, "salt"]).select(
        SRC,
        DST,
        (F.col("off") + F.col("cum") - F.col("iw")).alias("lo"),
        (F.col("off") + F.col("cum")).alias("hi"),
    )


def random_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 42,
    weight_col: str | None = None,
    weight_resolution: int = 128,
    sources: list[int] | None = None,
) -> DataFrame:
    """DataFrame[walk_id, step, node] — ``walks_per_node`` deterministic
    walks from every node (or only from ``sources`` when given — the
    personalization case: at 10¹² nodes you walk from the seed set, not
    the graph), ``walk_length`` steps (or fewer at a sink); step 0 is the
    start node, walk_id = node·walks_per_node + w regardless of
    ``sources``, so seeded walks are bit-identical to the corresponding
    subset of the full corpus.

    With ``weight_col``, steps are weight-biased: neighbor i is picked
    with probability ŵ_i/Σŵ where ŵ = floor(w·weight_resolution)+1
    (exact integer quantization — relative bias ≤ 1/(w·resolution),
    deterministic and engine-portable)."""
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    weighted = weight_col is not None
    if weighted:
        e = (
            edges.groupBy(SRC, DST)
            .agg(F.max(F.col(weight_col).cast("double")).alias("_w"))
        )
        ranges = weighted_adjacency_ranges(e, "_w", resolution=weight_resolution)
        deg = (
            ranges.groupBy(SRC)
            .agg(F.max("hi").alias("tot"), F.count("*").alias("od"))
            .withColumn(
                "step_w",
                F.greatest(
                    F.lit(1).cast("long"),
                    F.floor(F.col("tot") / F.col("od")).cast("long"),
                ),
            )
            .repartition(p, SRC)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # bucket lookup table: neighbor rows replicated into each bucket
        # their [lo, hi) spans — ≤ T/step + od ≈ 2·od rows per src
        adj = (
            ranges.join(deg.select(SRC, "step_w"), SRC)
            .select(
                SRC,
                DST,
                "lo",
                "hi",
                F.explode(
                    F.sequence(
                        F.floor(F.col("lo") / F.col("step_w")).cast("long"),
                        F.floor((F.col("hi") - 1) / F.col("step_w")).cast("long"),
                    )
                ).alias("bucket"),
            )
            .repartition(p, SRC, "bucket")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        adj.count()
        n_deg = deg.count()
    else:
        e = edges.select(SRC, DST).distinct()
        adj = (
            adjacency_index(e)
            .repartition(p, SRC, "idx")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        adj.count()
        deg = (
            e.groupBy(SRC).agg(F.count("*").alias("od"))
            .repartition(p, SRC)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_deg = deg.count()

    nodes = nodes_of(edges)
    if sources is not None:
        seeds = sorted(set(sources))
        nodes = nodes.filter(F.col("id").isin(seeds))
    starts = nodes.select(
        F.explode(F.array(*[F.lit(w) for w in range(walks_per_node)])).alias("w"),
        F.col("id").alias("node"),
    ).select(
        (F.col("node") * walks_per_node + F.col("w")).alias("walk_id"),
        F.col("node"),
    )
    frontier = starts.withColumn("step", F.lit(0)).select("walk_id", "step", "node")
    frontier = frontier.localCheckpoint(eager=True)
    parts = [frontier]
    for t in range(walk_length):
        pick_hash = token_hash(
            F.concat_ws(":", F.col("walk_id"), F.lit(t), F.lit(seed))
        )
        if weighted:
            with_pick = (
                join_side(frontier.select("walk_id", "node"), n_deg)
                .join(deg, frontier["node"] == deg[SRC])
                .select(
                    "walk_id",
                    "node",
                    F.pmod(pick_hash, F.col("tot")).alias("u"),
                    "step_w",
                )
                .withColumn("b", F.floor(F.col("u") / F.col("step_w")).cast("long"))
            )
            nxt = (
                join_side(with_pick, n_deg)
                .join(
                    adj,
                    (with_pick["node"] == adj[SRC])
                    & (with_pick["b"] == adj["bucket"]),
                )
                .filter((F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi")))
                .select(
                    "walk_id",
                    F.lit(t + 1).alias("step"),
                    F.col(DST).alias("node"),
                )
                .localCheckpoint(eager=True)
            )
        else:
            with_pick = (
                join_side(frontier.select("walk_id", "node"), n_deg)
                .join(deg, frontier["node"] == deg[SRC])
                .select(
                    "walk_id",
                    "node",
                    (F.pmod(pick_hash, F.col("od")) + 1).alias("pick"),
                )
            )
            nxt = (
                join_side(with_pick, n_deg)
                .join(
                    adj,
                    (with_pick["node"] == adj[SRC])
                    & (with_pick["pick"] == adj["idx"]),
                )
                .select(
                    "walk_id",
                    F.lit(t + 1).alias("step"),
                    F.col(DST).alias("node"),
                )
                .localCheckpoint(eager=True)
            )
        if nxt.isEmpty():
            break
        parts.append(nxt)
        frontier = nxt

    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    out = out.localCheckpoint(eager=True)
    adj.unpersist()
    deg.unpersist()
    return out


def node2vec_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_node: int = 1,
    p: float = 2.0,
    q: float = 0.5,
    retries: int = 4,
    seed: int = 42,
    sources: list[int] | None = None,
) -> DataFrame:
    """DataFrame[walk_id, step, node] — deterministic node2vec-biased
    walks (Grover & Leskovec 2016): from prev u at cur v, neighbor x is
    drawn with unnormalized weight 1/p if x = u (return), 1 if the
    directed edge u→x exists (stay near u), 1/q otherwise (explore).

    Exact node2vec needs the full out-list of v classified against u per
    step — O(deg) per walker, the hub scan this module exists to avoid.
    Instead each step runs **deterministic rejection sampling** (the
    standard scalable formulation, cf. KnightKing): draw ``retries``
    uniform candidates x_r = adj[v][H(walk:t:r) mod od] in ONE adjacency
    join, accept x_r iff H'(walk:t:r) mod 2^16 < 2^16·α(x_r)/α_max, and
    take the first accepted candidate (falling back to the last candidate
    if all reject — a documented, deterministic tail bias that shrinks
    geometrically in ``retries``). Per step that is: one deg join, one
    (src, idx) composite-key adjacency join on retries·|walkers| rows,
    one (u, x) edge-existence join for the d=1 class, and one per-walker
    window over ``retries`` rows — every join an equi-join, no neighbor
    scans, replayable in SQL (the oracle unrolls the same draws).

    Step 0 has no prev node and uses the r=0 uniform draw directly.
    ``sources`` restricts the start set (seeded corpora); walk ids are
    unchanged, so seeded output ≡ the filtered full corpus."""
    spark = edges.sparkSession
    pp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if retries < 1:
        raise ValueError("retries must be >= 1")
    M = 1 << 16
    a_ret, a_mid, a_far = 1.0 / p, 1.0, 1.0 / q
    a_max = max(a_ret, a_mid, a_far)
    thr_ret = int(round(M * a_ret / a_max))
    thr_mid = int(round(M * a_mid / a_max))
    thr_far = int(round(M * a_far / a_max))

    e = edges.select(SRC, DST).distinct()
    adj = (
        adjacency_index(e)
        .repartition(pp, SRC, "idx")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj.count()
    deg = (
        e.groupBy(SRC).agg(F.count("*").alias("od"))
        .repartition(pp, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_deg = deg.count()
    # d=1 membership probe table, keyed (u, x) for the composite equi-join
    e_probe = (
        e.select(F.col(SRC).alias("_pu"), F.col(DST).alias("_px"))
        .withColumn("_d1", F.lit(True))
        .repartition(pp, "_pu", "_px")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e_probe.count()

    nodes = nodes_of(edges)
    if sources is not None:
        seeds = sorted(set(sources))
        nodes = nodes.filter(F.col("id").isin(seeds))
    starts = nodes.select(
        F.explode(F.array(*[F.lit(w) for w in range(walks_per_node)])).alias("w"),
        F.col("id").alias("node"),
    ).select(
        (F.col("node") * walks_per_node + F.col("w")).alias("walk_id"),
        F.col("node"),
        F.lit(None).cast("long").alias("prev"),
    )
    frontier = starts.localCheckpoint(eager=True)
    # checkpoint the projection too: a select that DROPS an attribute of a
    # checkpointed frame trips pyspark 4.1's stats/constraint rewrite when
    # the final union is checkpointed ("key not found: walk_id#...")
    out_parts = [
        frontier.select("walk_id", F.lit(0).alias("step"), F.col("node"))
        .localCheckpoint(eager=True)
    ]
    for t in range(walk_length):
        pick_h = token_hash(
            F.concat_ws(":", F.col("walk_id"), F.lit(t), F.col("r"), F.lit(seed))
        )
        acc_h = token_hash(
            F.concat_ws(
                ":", F.col("walk_id"), F.lit(t), F.col("r"), F.lit("acc"),
                F.lit(seed),
            )
        )
        n_r = 1 if t == 0 else retries
        cands = (
            join_side(frontier, n_deg)
            .join(deg, frontier["node"] == deg[SRC])
            .select(
                "walk_id",
                "node",
                "prev",
                "od",
                F.explode(F.array(*[F.lit(r) for r in range(n_r)])).alias("r"),
            )
            .withColumn("pick", F.pmod(pick_h, F.col("od")) + 1)
        )
        cands = (
            join_side(cands, n_deg)
            .join(
                adj,
                (cands["node"] == adj[SRC]) & (cands["pick"] == adj["idx"]),
            )
            .select("walk_id", F.col("node").alias("cur"), "prev", "r",
                    F.col(DST).alias("x"))
        )
        if t == 0:
            picked = cands.select("walk_id", "cur", "x")
        else:
            # left outer: build side must be the probe table (right) — hint
            # it shuffle_hash so the persisted (u, x)-partitioned table is
            # hash-built, never sort-merged; the walker side streams
            flagged = (
                cands
                .join(
                    e_probe.hint("shuffle_hash"),
                    (cands["prev"] == e_probe["_pu"])
                    & (cands["x"] == e_probe["_px"]),
                    "left",
                )
                .select(
                    "walk_id",
                    "cur",
                    "r",
                    "x",
                    F.when(F.col("x") == F.col("prev"), F.lit(thr_ret))
                    .when(F.col("_d1"), F.lit(thr_mid))
                    .otherwise(F.lit(thr_far))
                    .alias("thr"),
                )
                .withColumn("acc", F.pmod(acc_h, F.lit(M)) < F.col("thr"))
            )
            w = Window.partitionBy("walk_id").orderBy(
                F.desc("acc"),
                F.when(F.col("acc"), F.col("r")).otherwise(-F.col("r")).asc(),
            )
            picked = (
                flagged.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("walk_id", "cur", "x")
            )
        # ONE checkpointed frame per step; the output rows and the next
        # frontier (with prev = cur) are both cheap projections of it —
        # no join back to the old frontier
        picked = picked.localCheckpoint(eager=True)
        if picked.isEmpty():
            break
        out_parts.append(
            picked.select(
                "walk_id", F.lit(t + 1).alias("step"), F.col("x").alias("node")
            )
        )
        frontier = picked.select(
            "walk_id", F.col("x").alias("node"), F.col("cur").alias("prev")
        )

    out = out_parts[0]
    for part in out_parts[1:]:
        out = out.unionByName(part)
    # every part is already an eager localCheckpoint (one per step), so the
    # union's lineage is a flat list of RDD scans — no final checkpoint
    # needed, and checkpointing THIS union trips a pyspark 4.1 constraint
    # rewrite ("key not found: walk_id#...") because the window-filtered
    # step frames carry constraints on attributes the union drops
    adj.unpersist()
    deg.unpersist()
    e_probe.unpersist()
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """DataFrame[center, context, cnt] — skip-gram co-occurrence counts
    over a walk corpus (the DeepWalk/node2vec training-input stage: walks
    are sentences, nodes are words; Perozzi et al. 2014 §4.2). Counts every
    ordered (center, context) pair with 0 < |i−j| ≤ window inside one walk,
    aggregated corpus-wide.

    The self-join keys on walk_id: each walk is O(L) rows, so per-key join
    work is O(L·window) regardless of graph skew — a hub appearing in many
    walks contributes through many *different* walk_ids, which hash-spread.
    The count aggregate is map-side combinable. Consumes only the corpus
    shape (walk_id, step, node), so it composes with ``random_walks``,
    weighted walks, and ``node2vec_walks`` unchanged."""
    a = walks.select(
        "walk_id", F.col("step").alias("i"), F.col("node").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("j"), F.col("node").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def walk_visit_counts(
    edges: DataFrame,
    sources: list[int],
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 42,
    weight_col: str | None = None,
) -> DataFrame:
    """DataFrame[node, visits, ppr_estimate] — Monte-Carlo personalized
    relevance: visit frequencies of the deterministic walks started from
    ``sources``. This is the production estimator for personalized
    PageRank at web scale (exact PPR per seed set is a full power
    iteration; landing counts of O(|seeds|·walks) walkers cost a few
    seeded joins — Fogaras et al. 2005). Deterministic walks make the
    estimate reproducible and SQL-replayable; ppr_estimate = visits /
    total visits (the walk-occupancy distribution, teleport-free).

    Scale: everything downstream of ``random_walks(sources=...)`` is
    proportional to the WALK corpus, not the graph."""
    w = random_walks(
        edges,
        walk_length=walk_length,
        walks_per_node=walks_per_node,
        seed=seed,
        weight_col=weight_col,
        sources=sources,
    )
    counts = w.groupBy("node").agg(F.count("*").cast("long").alias("visits"))
    total = w.groupBy().agg(F.count("*").cast("long").alias("_t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "node",
        "visits",
        F.round(F.col("visits") / F.col("_t"), 6).alias("ppr_estimate"),
    )


def fanout_sample(
    edges: DataFrame,
    roots: list[int],
    fanouts: tuple[int, ...] = (8, 4),
    seed: int = 17,
    salts: int = ADJ_SALTS,
) -> DataFrame:
    """DataFrame[root, hop, src, dst] — deterministic GraphSAGE-style
    fan-out neighborhood sampling: for every root, sample up to
    ``fanouts[0]`` out-neighbors, then up to ``fanouts[1]`` out-neighbors
    of each distinct sampled node, and so on (Hamilton et al. 2017).
    This is the minibatch-construction operator a GNN trainer consumes;
    at web scale the sampled blocks — not the full adjacency — are what
    leaves the graph store.

    Determinism: the per-edge sampling key is the portable 60-bit md5
    hash of ``root:src:dst:seed:hop``, so every engine (and every resume)
    draws the same neighbors; sampling = keep the ``f`` smallest keys per
    (root, src), i.e. a uniform without-replacement draw.

    Hub safety: the per-(root, src) top-f is computed in two phases —
    rank within (root, src, key%salts) and keep ≤ f per salt bucket (a
    superset of the global top-f, max task sort ≈ out_deg/salts), then
    re-rank the ≤ salts·f survivors. No single task ever sorts a whole
    hub's out-list, the same discipline as :func:`adjacency_index`.

    Scale: per hop one equi-join of the frontier (≤ |roots|·Πf rows —
    broadcast while tiny, shuffled-hash above the 100k policy bound so
    the persisted edge table streams) against edges, then the salted
    top-f. Work is proportional to the sampled block, not the graph.

    Reference tie-in: composes the reference's out-edge iterator +
    pick_random_node surface (ll_mlcsr_graph.h:677-682) the way a
    sampling benchmark driver would, as data-parallel joins.
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select(SRC, DST)
        .distinct()
        .repartition(p, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_src = e.select(SRC).distinct().count()

    root_rows = sorted(set(int(r) for r in roots))
    frontier = spark.createDataFrame(
        [(r, r) for r in root_rows], "root long, node long"
    )
    parts: list[DataFrame] = []
    for hop, f in enumerate(fanouts, start=1):
        cand = (
            join_side(frontier, n_src)
            .join(e, frontier["node"] == e[SRC])
            .select("root", SRC, DST)
            .withColumn(
                "k",
                token_hash(
                    F.concat_ws(
                        ":", F.col("root"), F.col(SRC), F.col(DST),
                        F.lit(seed), F.lit(hop),
                    )
                ),
            )
        )
        # phase 1: top-f within each (root, src, salt) — bounded task sorts
        w1 = Window.partitionBy("root", SRC, "b").orderBy("k", DST)
        pre = (
            cand.withColumn("b", F.pmod(F.col("k"), F.lit(salts)))
            .withColumn("r1", F.row_number().over(w1))
            .filter(F.col("r1") <= f)
        )
        # phase 2: exact top-f over the ≤ salts·f survivors per (root, src)
        w2 = Window.partitionBy("root", SRC).orderBy("k", DST)
        samp = (
            pre.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= f)
            .select("root", F.lit(hop).alias("hop"), SRC, DST)
            .localCheckpoint(eager=True)
        )
        parts.append(samp)
        frontier = samp.select("root", F.col(DST).alias("node")).distinct()
    e.unpersist()
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


def cooccurrence_lift(pairs: DataFrame) -> DataFrame:
    """DataFrame[center, context, cnt, lift] — PMI-class association
    strength over a co-occurrence table (the word2vec-era statistic that
    separates structural affinity from hub frequency): lift = observed /
    expected-under-independence = cnt·T / (n_center·n_context) with T the
    total pair count and n_* the marginals. Deliberately the RATIO, not
    log-PMI: libm log is not correctly-rounded across engines, while the
    ratio is exact BIGINT sums and ONE double multiply/divide chain —
    hash-stable everywhere. lift > 1 ⇔ PMI > 0.

    Plan: two map-side-combinable marginal rollups, one 1-row total, two
    V-row joins back — composes with ``skipgram_pairs`` output unchanged."""
    t = pairs.agg(F.sum("cnt").alias("t"))
    ca = pairs.groupBy("center").agg(F.sum("cnt").alias("na"))
    cb = pairs.groupBy("context").agg(F.sum("cnt").alias("nb"))
    return (
        pairs.join(ca, "center")
        .join(cb, "context")
        .crossJoin(F.broadcast(t))
        .select(
            "center",
            "context",
            "cnt",
            F.round(
                (F.col("cnt").cast("double") * F.col("t"))
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )
