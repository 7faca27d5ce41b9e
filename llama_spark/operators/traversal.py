"""BFS / SSSP — frontier-expansion and Bellman-Ford fixpoints.

Reference semantics:
- ``sssp_unweighted`` — BFS depth per node (sssp.h:220-333, via the
  adaptive ll_bfs_template); unreachable nodes keep +inf (we emit NULL).
- ``sssp_weighted`` — Bellman-Ford min-relaxation to fixpoint
  (sssp.h:59-216: relax dist[s] = min(dist[s], dist[n]+len(e)) over the
  updated frontier, loop until no update); returns max finite dist.
- ``bfs_count`` — number of vertices reachable from root (bfs.h:56-128).

Spark plan: the frontier is a DataFrame; each round is
``frontier ⨝ edges → groupBy(dst).min → improve dists``. LLAMA's adaptive
small/queue/scan frontier switch (ll_bfs_template.h:170-292) maps to
broadcast-vs-shuffle join selection: the frontier side is always the small
side of the join and AQE broadcasts it when it fits, which is exactly the
ST_SMALL/ST_QUE→ST_RD transition.
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
    nodes_of,
    symmetrize,
)
from ..plans.fixpoint import iterate


def sssp(
    edges: DataFrame,
    root: int = 0,
    weight_col: str | None = None,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """DataFrame[id, dist] — min distance from root; NULL = unreachable.

    weight_col=None → unweighted (dist = BFS depth, weight 1 per hop);
    else Bellman-Ford over ``edges[weight_col]`` (double).
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    rel = (
        edges.select(SRC, DST, w.alias("w"))
        .repartition(p, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    m_edges = rel.count()
    nodes = nodes_of(edges)
    n = nodes.count()

    init = nodes.select(
        "id",
        F.when(F.col("id") == root, F.lit(0.0)).otherwise(F.lit(None).cast("double")).alias(
            "dist"
        ),
        (F.col("id") == root).alias("changed"),
    )

    # Delta iteration (sssp.h:131-161 relaxes only the updated frontier):
    # candidates are generated ONLY from rows improved last round, and the
    # changed flag doubles as the "no update → stop" probe (sssp.h:124-179).
    def step(dists: DataFrame, _i: int) -> DataFrame:
        frontier = dists.filter(F.col("changed")).select("id", "dist")
        cand = (
            join_side(frontier, n).join(rel, frontier["id"] == rel[SRC])
            .groupBy(F.col(DST).alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        return dists.join(join_side(cand, n), "id", "left").select(
            "id",
            F.when(
                F.col("cand").isNotNull()
                & (F.col("dist").isNull() | (F.col("cand") < F.col("dist"))),
                F.col("cand"),
            )
            .otherwise(F.col("dist"))
            .alias("dist"),
            (
                F.col("cand").isNotNull()
                & (F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            ).alias("changed"),
        )

    res = iterate(
        init,
        step,
        max_iter=max_iter,
        updated_metric=F.sum(F.col("changed").cast("long")),
        checkpoint_dir=checkpoint_dir,
        # edge count is already materialized; nodes ≤ 2m, so m bounds the
        # state size for the tiny/big truncation-cadence choice
        truncate_every=1 if is_small(m_edges) else 4,
        resume=resume,
        name="sssp",
    )
    rel.unpersist()
    return res.state.select("id", "dist")


def bfs_depths(edges: DataFrame, root: int = 0, max_iter: int = 100) -> DataFrame:
    """DataFrame[id, depth: long] (NULL = unreachable) — sssp_unweighted."""
    return sssp(edges, root=root, weight_col=None, max_iter=max_iter).select(
        "id", F.col("dist").cast("long").alias("depth")
    )


def bfs_count(edges: DataFrame, root: int = 0, max_iter: int = 100) -> int:
    """Reachable-vertex count from root (bfs.h:70-73 atomic counter)."""
    return (
        bfs_depths(edges, root=root, max_iter=max_iter)
        .filter(F.col("depth").isNotNull())
        .count()
    )


def multi_source_bfs_depths(
    edges: DataFrame, roots: list[int], max_iter: int = 100
) -> DataFrame:
    """DataFrame[root, id, depth] — BFS depth from EVERY root at once, the
    root as a key column so all |roots| waves share each Spark job (the
    same multi-source shape as bc.py's forward phase; ll_bfs_template run
    per source in the reference).

    **Sparse contract**: only REACHED (root, id) pairs are returned —
    unreachable pairs are simply absent (no NULL-depth rows). State per
    level is exactly the newly-reached rows, so total work is
    O(Σ_r |reach(r)|) writes, not O(K·V) rewrites per depth — at K=100 on
    a billion-node graph the dense representation this replaced wrote 100×V
    rows every level. Duplicate root ids are deduped at entry (a duplicated
    root would silently double that root's closeness/harmonic aggregates)."""
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    roots = sorted(set(roots))
    rel = edges.select(SRC, DST).distinct().repartition(p, SRC).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rel.count()

    level0 = spark.createDataFrame(
        [(r, r, 0) for r in roots], "root long, id long, depth long"
    ).localCheckpoint(eager=True)
    levels: list[DataFrame] = [level0]
    counts: list[int] = [len(roots)]
    frontier = level0
    for depth in range(max_iter):
        visited = levels[0]
        for lv in levels[1:]:
            visited = visited.unionByName(lv)
        fr = frontier.select("root", "id")
        cand = (
            join_side(fr, counts[-1])
            .join(rel, fr["id"] == rel[SRC])
            .select("root", F.col(DST).alias("id"))
            .distinct()
        )
        # the frontier row count rides the checkpoint job via observe —
        # one Spark job per level instead of two
        from pyspark.sql import Observation

        from ..plans.fixpoint import _OBS_SEQ

        obs = Observation(f"msbfs_d{depth}_{next(_OBS_SEQ)}")
        nxt = (
            cand.join(
                join_side(visited.select("root", "id"), sum(counts)),
                ["root", "id"],
                "left_anti",
            )
            .withColumn("depth", F.lit(depth + 1).cast("long"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_nxt = int(obs.get["n"] or 0)
        if n_nxt == 0:
            break
        levels.append(nxt)
        counts.append(n_nxt)
        frontier = nxt

    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    out = out.localCheckpoint(eager=True)
    rel.unpersist()
    return out


def closeness_centrality(
    edges: DataFrame, roots: list[int], max_iter: int = 100
) -> DataFrame:
    """DataFrame[id, closeness] for the sampled ``roots``: classic
    within-reach closeness C(v) = (|reach(v)|-1) / Σ_{u∈reach(v)} d(v,u),
    0 for roots that reach nothing — the standard K-sample estimator over
    a link graph, one multi-source BFS for all roots."""
    d = multi_source_bfs_depths(edges, roots, max_iter=max_iter)
    per_root = (
        d.filter(F.col("depth").isNotNull())
        .groupBy("root")
        .agg(F.count("*").alias("n_r"), F.sum("depth").alias("sum_d"))
    )
    return per_root.select(
        F.col("root").alias("id"),
        F.when(
            F.col("sum_d") > 0, (F.col("n_r") - 1) / F.col("sum_d")
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


def harmonic_centrality(
    edges: DataFrame, roots: list[int], max_iter: int = 100
) -> DataFrame:
    """DataFrame[id, harmonic] for the sampled ``roots``:
    H(v) = Σ_{u ≠ v, reachable} 1/d(v,u) — closeness's well-behaved
    cousin (defined even on disconnected graphs, no reach-size
    normalization trap). Shares the one multi-source BFS with
    closeness_centrality."""
    d = multi_source_bfs_depths(edges, roots, max_iter=max_iter)
    return (
        d.filter(F.col("depth").isNotNull() & (F.col("depth") > 0))
        .groupBy("root")
        .agg(F.sum(F.lit(1.0) / F.col("depth")).alias("harmonic"))
        .select(F.col("root").alias("id"), "harmonic")
    )


def approx_diameter(edges: DataFrame, seed_root: int = 0, max_iter: int = 100) -> DataFrame:
    """One-row DataFrame[peripheral_id, diameter_lb] — the classic
    double-sweep lower bound: BFS from ``seed_root``, hop to the farthest
    reached node (ties → smallest id), BFS again; the second eccentricity
    lower-bounds the graph diameter (and is exact on trees). Two BFS
    passes total — the cheapest useful diameter estimate at scale."""
    d1 = bfs_depths(edges, root=seed_root, max_iter=max_iter)
    far = (
        d1.filter(F.col("depth").isNotNull())
        .orderBy(F.desc("depth"), F.asc("id"))
        .limit(1)
        .collect()
    )
    if not far:
        return edges.sparkSession.createDataFrame(
            [], "peripheral_id long, diameter_lb long"
        )
    far_id = far[0]["id"]
    d2 = bfs_depths(edges, root=far_id, max_iter=max_iter)
    return d2.agg(
        F.lit(far_id).cast("long").alias("peripheral_id"),
        F.max("depth").alias("diameter_lb"),
    )


def sssp_max_finite(edges: DataFrame, root: int = 0, weight_col: str | None = None) -> float:
    """LLAMA's SSSP 'result' — max finite distance (sssp.h:191-205)."""
    d = sssp(edges, root=root, weight_col=weight_col)
    row = d.agg(F.max("dist").alias("m")).collect()[0]
    return row["m"]


def multi_source_sssp(
    edges: DataFrame,
    roots: list[int],
    weight_col: str = "weight",
    weight_resolution: int = 128,
    max_iter: int = 100,
) -> DataFrame:
    """DataFrame[root, id, dist] — weighted shortest-path distance from
    EVERY root at once (the Bellman-Ford sibling of
    ``multi_source_bfs_depths``; reference context: ll_sssp per source,
    sssp.h:124-179, keyed here by root so all K waves share each job).

    **Sparse contract** (the multi_source_bfs convention): only REACHED
    (root, id) pairs appear. **Exact integer distances**: weights are
    quantized ŵ = floor(w·res)+1 (the walks/Louvain convention), so dist
    is a BIGINT sum — min() fixpoints are order-independent and the
    DuckDB oracle replays identical rounds with no float anywhere.

    Plan per round: relax candidates from the CHANGED frontier only
    (frontier ⨝ cached integer edge table, map-side-combinable min),
    merged into the state with one (root,id) min-aggregate. State uses
    the persist + every-4th-round localCheckpoint cadence — it is
    referenced twice per round (frontier filter + merge), which under
    checkpoint-only truncation recomputes 2^r deep in this build (the
    trussness lesson, operators/truss.py).
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    roots = sorted(set(roots))
    rel = (
        drop_self_loops(edges)
        .select(
            SRC,
            DST,
            (
                F.floor(
                    F.col(weight_col).cast("double")
                    * F.lit(float(weight_resolution))
                ).cast("long")
                + F.lit(1).cast("long")
            ).alias("w"),
        )
        .groupBy(SRC, DST)
        .agg(F.min("w").alias("w"))
        .repartition(p, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rel.count()

    state = spark.createDataFrame(
        [(r, r, 0, True) for r in roots],
        "root long, id long, dist long, changed boolean",
    ).localCheckpoint(eager=True)
    prev_cached = None
    for _i in range(max_iter):
        frontier = state.filter(F.col("changed")).select("root", "id", "dist")
        cand = (
            frontier.hint("shuffle_hash")
            .join(rel, frontier["id"] == rel[SRC])
            .groupBy("root", F.col(DST).alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        merged = (
            state.select("root", "id", "dist")
            .join(cand, ["root", "id"], "full_outer")
            .select(
                "root",
                "id",
                F.least(
                    F.coalesce("dist", F.col("cand")),
                    F.coalesce("cand", F.col("dist")),
                ).alias("dist"),
                (
                    F.col("cand").isNotNull()
                    & (F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
                ).alias("changed"),
            )
        )
        if _i % 4 == 3:
            merged = merged.localCheckpoint(eager=True)
            held = None
        else:
            merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
            held = merged
        changed = int(
            merged.agg(F.sum(F.col("changed").cast("long"))).collect()[0][0] or 0
        )
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = held
        state = merged
        if changed == 0:
            break
    out = state.select("root", "id", "dist").localCheckpoint(eager=True)
    if prev_cached is not None:
        prev_cached.unpersist()
    rel.unpersist()
    return out


def weighted_closeness_centrality(
    edges: DataFrame,
    roots: list[int],
    weight_col: str = "weight",
    weight_resolution: int = 128,
    max_iter: int = 100,
) -> DataFrame:
    """DataFrame[id, n_reached, closeness] for the given roots —
    closeness over WEIGHTED distances: (|reach|−1) / Σ dist, distances in
    exact integer quantized units (so the sum is a BIGINT; one rounded
    division per root). Roots with no out-reach get closeness 0.0."""
    d = multi_source_sssp(
        edges, roots, weight_col, weight_resolution, max_iter
    )
    return (
        d.groupBy(F.col("root").alias("id"))
        .agg(
            (F.count("*") - F.lit(1)).cast("long").alias("n_reached"),
            F.sum("dist").alias("_s"),
        )
        .select(
            "id",
            "n_reached",
            F.round(
                F.when(
                    F.col("_s") > 0,
                    F.col("n_reached").cast("double") / F.col("_s"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("closeness"),
        )
    )


def widest_paths(
    edges: DataFrame,
    root: int = 0,
    weight_col: str = "weight",
    max_iter: int = 100,
    source_width: float = 999.0,
) -> DataFrame:
    """DataFrame[id, width] — maximum-bottleneck path width from root
    (width of a path = its MINIMUM edge capacity; take the MAX over
    paths). The (max, min) semiring on the same delta-iteration template
    as ``sssp``'s (min, +) — the classic max-capacity-route kernel.
    NULL = unreachable; the root carries ``source_width``, a finite
    sentinel documented greater than every edge capacity (keeps the
    output hash-stable where an IEEE infinity would be engine-fragile).

    Scale shape identical to sssp: the capacity table is hash(src)
    partitioned and persisted once; only the changed frontier joins it
    each round; Bellman-Ford-style monotone convergence (width only ever
    increases) in ≤ V-1 rounds, far fewer on small-diameter web graphs."""
    from pyspark.storagelevel import StorageLevel

    from ..graph import nodes_of
    from ..plans.fixpoint import iterate

    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rel = (
        edges.select(SRC, DST, F.col(weight_col).cast("double").alias("w"))
        .repartition(p, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    m_edges = rel.count()
    nodes = nodes_of(edges)
    n = nodes.count()

    init = nodes.select(
        "id",
        F.when(F.col("id") == root, F.lit(float(source_width)))
        .otherwise(F.lit(None).cast("double"))
        .alias("width"),
        (F.col("id") == root).alias("changed"),
    )

    def step(state: DataFrame, _i: int) -> DataFrame:
        frontier = state.filter(F.col("changed")).select("id", "width")
        cand = (
            join_side(frontier, n).join(rel, frontier["id"] == rel[SRC])
            .groupBy(F.col(DST).alias("id"))
            .agg(F.max(F.least(F.col("width"), F.col("w"))).alias("cand"))
        )
        improved = F.col("cand").isNotNull() & (
            F.col("width").isNull() | (F.col("cand") > F.col("width"))
        )
        return state.join(cand, "id", "left").select(
            "id",
            F.when(improved, F.col("cand")).otherwise(F.col("width")).alias("width"),
            improved.alias("changed"),
        )

    res = iterate(
        init,
        step,
        max_iter=max_iter,
        updated_metric=F.sum(F.col("changed").cast("long")),
        truncate_every=1 if is_small(m_edges) else 4,
        name="widest_paths",
    )
    rel.unpersist()
    return res.state.select("id", "width")


def eccentricity_sample(
    edges: DataFrame, roots: list[int], max_iter: int = 100
) -> DataFrame:
    """DataFrame[id, ecc, n_reached] — EXACT eccentricity (max BFS depth)
    and reach count for each sampled root, from ONE multi-source BFS.
    The exact companion to hyperball_eccentricity's all-nodes lower
    bound: K roots exactly here, every node approximately there; max over
    sampled eccentricities is the standard diameter lower bound."""
    d = multi_source_bfs_depths(edges, roots, max_iter=max_iter)
    return d.groupBy(F.col("root").alias("id")).agg(
        F.max("depth").cast("long").alias("ecc"),
        F.count("*").cast("long").alias("n_reached"),
    )


def pick_landmarks(edges: DataFrame, k: int = 8) -> list[int]:
    """Top-k undirected-degree nodes (ties → lower id) — the degree-based
    landmark pick of Potamias et al. (CIKM 2009), which dominates random
    landmarks for distance estimation on power-law web graphs. K rows
    collected to the driver (bounded, like bc.pick_roots)."""
    und = drop_self_loops(
        edges.select(SRC, DST)
        .unionAll(edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
    ).distinct()
    deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("deg"))
    return [
        r["id"]
        for r in deg.orderBy(F.desc("deg"), F.asc("id")).limit(k).collect()
    ]


def landmark_distances(
    edges: DataFrame,
    landmarks: list[int] | None = None,
    k_landmarks: int = 8,
    query_ids: list[int] | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """DataFrame[u, v, lower, upper, n_landmarks] — landmark (ALT-style)
    distance-sketch bounds for every query pair u < v over the UNDIRECTED
    graph: upper = min_L d(u,L)+d(L,v), lower = max_L |d(u,L)−d(L,v)|,
    n_landmarks = common landmarks reaching both. Pairs with no common
    landmark are absent (sparse, like multi_source_bfs_depths).

    The web-scale distance-oracle recipe (Das Sarma et al. WSDM 2010;
    ll_bfs_template.h is the per-source kernel the reference would run per
    query): ONE K-root multi-source BFS precomputes the sketch; every
    subsequent pair query is a K-row join — no per-query traversal. The
    BFS cost is O(Σ_r |reach(r)|) rows (sparse contract), the pair join
    shuffles only |query|·K sketch rows, and the 1-hop exactness shortcut
    is deliberately NOT applied so both engines compute the same pure
    sketch bound.
    """
    und = drop_self_loops(
        edges.select(SRC, DST)
        .unionAll(edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
    ).distinct()
    if landmarks is None:
        landmarks = pick_landmarks(edges, k=k_landmarks)
    depths = multi_source_bfs_depths(und, roots=landmarks, max_iter=max_iter)
    if query_ids is not None:
        ids = sorted(set(query_ids))
        depths = depths.filter(F.col("id").isin(ids))
    a = depths.select(
        F.col("root"), F.col("id").alias("u"), F.col("depth").alias("du")
    )
    b = depths.select(
        F.col("root"), F.col("id").alias("v"), F.col("depth").alias("dv")
    )
    return (
        a.join(b, "root")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.max(F.abs(F.col("du") - F.col("dv"))).cast("long").alias("lower"),
            F.min(F.col("du") + F.col("dv")).cast("long").alias("upper"),
            F.count("*").cast("long").alias("n_landmarks"),
        )
    )


def small_world_sigma(
    edges: DataFrame,
    roots: list[int],
    max_iter: int = 16,
) -> DataFrame:
    """Small-world coefficient σ → one-row DataFrame
    [n_nodes, n_edges, c, c_rand, l_hat, l_rand, sigma].

    Published frame: Humphries & Gurney, "Network 'Small-World-Ness'"
    (PLoS ONE 2008), quantifying the Watts-Strogatz criterion:

        σ = (C / C_rand) / (L / L_rand),   σ > 1 ⇒ small-world

    with C the global clustering coefficient (transitivity — the exact
    3T/W form, matching the gated ``transitivity``), L the mean
    shortest-path length estimated EXACTLY over the given sampled roots
    (mean depth over reached (root, id) pairs, root excluded — the same
    multi-source BFS sample the closeness gate uses), and the
    Erdős–Rényi baselines in closed form: C_rand = k̄/(n−1),
    L_rand = ln n / ln k̄ with k̄ = 2m/n.

    Spark plan: the sparse multi-source BFS (one wave set shared by all
    roots) + the skew-safe triangle/wedge aggregate + two 1-row
    aggregates folded by cross-join — every float appears only in the
    final one-row expression, rounded to 6 dp (house convention).
    Roots absent from the graph contribute nothing on either engine
    (depth > 0 filter).
    """
    from .triangles import transitivity

    und = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    und.count()
    nm = und.agg(
        F.countDistinct(SRC).alias("n"),
        (F.count(F.lit(1)) / 2).cast("long").alias("m"),
    )
    # the triangle/wedge aggregate and the multi-source BFS are
    # independent — overlap their job chains (plans/overlap.py); both
    # kernels hand back materialized frames, and the one-row combining
    # plan below is unchanged
    from ..plans.overlap import run_concurrent

    tr_raw, depths = run_concurrent(
        lambda: transitivity(edges),
        lambda: multi_source_bfs_depths(und, sorted(set(roots)), max_iter=max_iter),
    )
    tr = tr_raw.select(F.col("transitivity").alias("c_raw"))
    lsum = depths.filter(F.col("depth") > 0).agg(
        F.sum("depth").alias("sd"), F.count(F.lit(1)).alias("np")
    )
    out = (
        nm.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(lsum))
        .select(
            F.col("n").alias("n_nodes"),
            F.col("m").alias("n_edges"),
            F.round("c_raw", 6).alias("c"),
            F.round(
                (2.0 * F.col("m") / F.col("n")) / (F.col("n") - 1), 6
            ).alias("c_rand"),
            F.round(F.col("sd") / F.col("np"), 6).alias("l_hat"),
            F.round(
                F.log(F.col("n").cast("double"))
                / F.log(2.0 * F.col("m") / F.col("n")),
                6,
            ).alias("l_rand"),
            F.round(
                (
                    F.col("c_raw") / ((2.0 * F.col("m") / F.col("n")) / (F.col("n") - 1))
                )
                / (
                    (F.col("sd") / F.col("np"))
                    / (
                        F.log(F.col("n").cast("double"))
                        / F.log(2.0 * F.col("m") / F.col("n"))
                    )
                ),
                6,
            ).alias("sigma"),
        )
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    return out


def global_efficiency(
    edges: DataFrame,
    roots: list[int],
    max_iter: int = 16,
) -> DataFrame:
    """Latora-Marchiori global efficiency → one-row DataFrame
    [n_nodes, n_roots, efficiency].

    Published frame: Latora & Marchiori, "Efficient Behavior of
    Small-World Networks" (PRL 2001) — E = mean over ordered pairs of
    1/d(u,v), with unreachable pairs contributing 0; the well-defined-
    on-disconnected-graphs replacement for average path length. Root-
    sampled estimate (the closeness-gate convention): pairs restricted
    to the given source roots,

        E ≈ Σ_{r, v reached, d>0} (1/d) / (|roots ∩ V| · (n − 1)).

    Spark plan: ONE sparse multi-source BFS (unreached pairs simply
    absent — exactly the 0-contribution the definition wants) + a 1-row
    aggregate; the denominator's root-presence count rides the same
    node-set frame.
    """
    und = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = nodes_of(und)
    rs = sorted(set(roots))
    nm = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("id").isin(rs).cast("long")).alias("kr"),
    )
    depths = multi_source_bfs_depths(und, rs, max_iter=max_iter)
    s = depths.filter(F.col("depth") > 0).agg(
        F.sum(F.lit(1.0) / F.col("depth")).alias("se")
    )
    out = (
        nm.crossJoin(F.broadcast(s))
        .select(
            F.col("n").alias("n_nodes"),
            F.col("kr").cast("long").alias("n_roots"),
            F.when(
                (F.col("kr") > 0) & (F.col("n") > 1),
                F.round(
                    F.coalesce("se", F.lit(0.0))
                    / (F.col("kr") * (F.col("n") - 1)),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("efficiency"),
        )
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    return out
