"""Betweenness centrality — multi-source Brandes as vectorized frontier
DataFrames.

Reference: exact BC (bc_adj.h:56-207) runs Brandes from EVERY source —
O(V·E), impractical at web scale and not demanded by the north rule;
``bc_random`` (bc_random.h:56-220, default K=100, benchmark.cc:1474)
approximates from K random roots. We implement the K-root variant with the
roots as a **key column**, so all K forward BFS waves and all K backward
sweeps run in the same DataFrame jobs (the Spark answer to LLAMA's
per-source sequential loop: parallelism across sources AND edges at once).

Forward phase (σ = shortest-path counts, level-synchronous BFS):
    frontier(root, id, depth, σ) ⨝ edges → anti-join visited
    → groupBy(root, dst): σ' = Σ σ     (bc_adj.h:73-90 σ-push)
Backward phase (δ accumulation over the BFS DAG's "down edges", which the
reference saves during the forward pass, ll_bfs_template.h:337-351; we do
the same — each forward expansion persists its (root, v@d, w@d+1) rows, so
the backward sweep streams them from cache instead of re-joining the full
edge table per depth):
    δ(v) = σ_v · Σ_{w ∈ succ(v)} (1 + δ(w)) / σ_w   (bc_adj.h:92-111)
    bc(v) = Σ_roots δ(v), v ≠ root

Scale design (the three round-1 scale-killers, fixed):
- **No unconditional broadcasts.** The frontier can reach K×V rows; every
  frontier/level join goes through ``graph.join_side``: broadcast only
  while the state side is small (``graph.BROADCAST_MAX_ROWS``), else a
  shuffle-hash hint so the cached, src-partitioned edge table STREAMS and
  only the small state side shuffles.
- **Forward levels accumulate in a Python list** of checkpointed per-level
  DataFrames; ``visited`` is a lazy union over them (each piece already
  materialized), so nothing is rewritten per depth — O(K·V) total writes,
  not O(depth · K·V).
- **The backward sweep is per-level**: δ at depth d is computed from depth
  d+1's rows alone (exactly bc_adj.h:92-111's level descent), and the
  per-level δ tables are unioned once at the end — again O(K·V) writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import DST, SRC, join_side, nodes_of


def pick_roots(edges: DataFrame, k: int, seed: int = 42) -> list[int]:
    """K deterministic pseudo-random existing nodes — the analog of
    pick_random_node (ll_mlcsr_graph.h:677-682) with a fixed seed."""
    nodes = nodes_of(edges)
    return [
        r["id"]
        for r in nodes.orderBy(F.xxhash64(F.col("id") + F.lit(seed)), F.col("id"))
        .limit(k)
        .collect()
    ]


def betweenness_centrality(
    edges: DataFrame,
    roots: list[int] | None = None,
    k: int = 8,
    seed: int = 42,
    max_depth: int = 64,
    root_weights: list[float] | None = None,
) -> DataFrame:
    """DataFrame[id, bc: double] — Brandes from the given (or K sampled)
    roots; nodes never reached contribute/receive 0.

    ``root_weights`` (optional, parallel to ``roots``): weight each
    root's dependency contribution w_s·δ_s(v) in the final aggregation —
    the per-source-importance generalization consumed by percolation
    centrality. ``None`` leaves the plan bit-identical to the audited
    unweighted kernel (same gate hash)."""
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if roots is None:
        roots = pick_roots(edges, k, seed)

    e = edges.select(SRC, DST).distinct().repartition(p, SRC).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    e.count()
    nodes = nodes_of(edges).persist(StorageLevel.MEMORY_AND_DISK)
    nodes.count()

    roots_df = spark.createDataFrame([(r,) for r in roots], "root long")
    level0 = (
        roots_df.select(
            "root",
            F.col("root").alias("id"),
            F.lit(0).alias("depth"),
            F.lit(1.0).alias("sigma"),
        )
        .localCheckpoint(eager=True)
    )

    # ---- forward: level-synchronous multi-source BFS with σ counting ----
    # levels[d] holds the checkpointed (root, id, depth, sigma) rows of depth
    # d; counts[d] its size (drives the per-join broadcast/shuffle choice).
    # downs[d] holds the BFS DAG's down edges INTO depth d — (root, vid@d-1,
    # id@d) — persisted during the forward expansion exactly like the
    # reference saves them (ll_bfs_template.h:337-351), so the backward
    # sweep never re-joins the full edge table. Each depth is still ONE
    # job: the level checkpoint materializes the down-edge cache en route.
    levels: list[DataFrame] = [level0]
    counts: list[int] = [len(roots)]
    downs: list[DataFrame | None] = [None]
    frontier = level0
    depth = 0
    while depth < max_depth:
        # lazy union of already-checkpointed levels — no rewrite per depth
        visited = levels[0]
        for lv in levels[1:]:
            visited = visited.unionByName(lv)
        fr = frontier.select("root", F.col("id").alias("vid"), "sigma")
        cand = (
            join_side(fr, counts[-1])
            .join(e, fr["vid"] == e[SRC])
            .select("root", "vid", F.col(DST).alias("id"), "sigma")
        )
        stepped = cand.join(
            join_side(visited.select("root", "id"), sum(counts)),
            ["root", "id"],
            "left_anti",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # the level row count rides the eager checkpoint as an observed
        # metric (integer count — order-independent), one job per depth
        # instead of checkpoint + count
        obs = Observation()
        nxt = (
            stepped.groupBy("root", "id")
            .agg(F.sum("sigma").alias("sigma"))
            .withColumn("depth", F.lit(depth + 1))
            .select("root", "id", "depth", "sigma")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_nxt = int(obs.get["n"])
        if n_nxt == 0:
            stepped.unpersist()
            break
        levels.append(nxt)
        counts.append(n_nxt)
        downs.append(stepped)  # (root, vid@d, id@d+1, sigma) — cached
        frontier = nxt
        depth += 1

    max_d = len(levels) - 1

    # ---- backward: per-level δ sweep from the deepest level up
    # (bc_adj.h:92-111). δ at depth d depends ONLY on depth d+1's δ/σ, so
    # each round touches K×|level d| rows; results union once at the end.
    deltas: list[DataFrame | None] = [None] * (max_d + 1)
    deltas[max_d] = (
        levels[max_d]
        .select("root", "id", F.lit(0.0).alias("delta"))
        .localCheckpoint(eager=True)
    )
    for d in range(max_d - 1, -1, -1):
        v = levels[d].select("root", "id", "sigma")
        w = (
            levels[d + 1]
            .select("root", F.col("id").alias("wid"), F.col("sigma").alias("wsigma"))
            .join(
                deltas[d + 1]
                .withColumnRenamed("id", "wid")
                .withColumnRenamed("delta", "wdelta"),
                ["root", "wid"],
            )
        )
        # saved down edges INTO depth d+1: (root, vid@d, wid@d+1) — streams
        # from the forward pass's cache; no edge-table re-join per depth
        acc = (
            downs[d + 1]
            .select("root", "vid", F.col("id").alias("wid"))
            .withColumnRenamed("vid", "id")
            .join(join_side(w, counts[d + 1]), ["root", "wid"])
            .groupBy("root", "id")
            .agg(F.sum((F.lit(1.0) + F.col("wdelta")) / F.col("wsigma")).alias("acc"))
        )
        deltas[d] = (
            v.join(acc, ["root", "id"], "left")
            .select(
                "root",
                "id",
                (F.col("sigma") * F.coalesce("acc", F.lit(0.0))).alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
        downs[d + 1].unpersist()

    all_delta = deltas[0]
    for dd in deltas[1:]:
        all_delta = all_delta.unionByName(dd)

    if root_weights is not None:
        if len(root_weights) != len(roots):
            raise ValueError("root_weights must be parallel to roots")
        w_df = spark.createDataFrame(
            list(zip(roots, root_weights)), "root long, w double"
        )
        bc = (
            all_delta.filter(F.col("id") != F.col("root"))
            .join(F.broadcast(w_df), "root")
            .groupBy("id")
            .agg(F.sum(F.col("delta") * F.col("w")).alias("bc"))
        )
    else:
        bc = (
            all_delta.filter(F.col("id") != F.col("root"))
            .groupBy("id")
            .agg(F.sum("delta").alias("bc"))
        )
    out = nodes.join(bc, "id", "left").select(
        "id", F.coalesce("bc", F.lit(0.0)).alias("bc")
    )
    # materialize before dropping the cached inputs the plan depends on
    out = out.localCheckpoint(eager=True)
    e.unpersist()
    nodes.unpersist()
    return out


def edge_betweenness(
    edges: DataFrame,
    roots: list[int] | None = None,
    k: int = 8,
    seed: int = 42,
    max_depth: int = 64,
) -> DataFrame:
    """DataFrame[src, dst, ebc] — K-root Brandes EDGE betweenness (the
    Girvan–Newman primitive): each shortest-path-DAG "down edge" (v→w)
    accumulates σ_v·(1+δ_w)/σ_w per root (Brandes 2001 §4 edge form);
    directed edges never on any sampled shortest path score 0.

    Same forward pass as :func:`betweenness_centrality` (level-synchronous
    K-keyed BFS with σ counting, per-level checkpointed down-edge cache);
    the backward sweep joins σ_v in once per level, so NODE δ recursion
    stays exactly the node kernel's expression shape (σ_v · Σ(1+δ_w)/σ_w)
    while the per-edge terms fall out of the same cached join — no extra
    pass over the edge table. 6-dp rounding on output (≤ K float terms
    per edge)."""
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if roots is None:
        roots = pick_roots(edges, k, seed)

    e = edges.select(SRC, DST).distinct().repartition(p, SRC).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    e.count()

    roots_df = spark.createDataFrame([(r,) for r in roots], "root long")
    level0 = (
        roots_df.select(
            "root",
            F.col("root").alias("id"),
            F.lit(0).alias("depth"),
            F.lit(1.0).alias("sigma"),
        )
        .localCheckpoint(eager=True)
    )

    levels: list[DataFrame] = [level0]
    counts: list[int] = [len(roots)]
    downs: list[DataFrame | None] = [None]
    frontier = level0
    depth = 0
    while depth < max_depth:
        visited = levels[0]
        for lv in levels[1:]:
            visited = visited.unionByName(lv)
        fr = frontier.select("root", F.col("id").alias("vid"), "sigma")
        cand = (
            join_side(fr, counts[-1])
            .join(e, fr["vid"] == e[SRC])
            .select("root", "vid", F.col(DST).alias("id"), "sigma")
        )
        stepped = cand.join(
            join_side(visited.select("root", "id"), sum(counts)),
            ["root", "id"],
            "left_anti",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # level count rides the eager checkpoint (see node kernel)
        obs = Observation()
        nxt = (
            stepped.groupBy("root", "id")
            .agg(F.sum("sigma").alias("sigma"))
            .withColumn("depth", F.lit(depth + 1))
            .select("root", "id", "depth", "sigma")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_nxt = int(obs.get["n"])
        if n_nxt == 0:
            stepped.unpersist()
            break
        levels.append(nxt)
        counts.append(n_nxt)
        downs.append(stepped)
        frontier = nxt
        depth += 1

    max_d = len(levels) - 1
    deltas: list[DataFrame | None] = [None] * (max_d + 1)
    deltas[max_d] = (
        levels[max_d]
        .select("root", "id", F.lit(0.0).alias("delta"))
        .localCheckpoint(eager=True)
    )
    eterms: list[DataFrame] = []
    joined_frames: list[DataFrame] = []
    for d in range(max_d - 1, -1, -1):
        w = (
            levels[d + 1]
            .select("root", F.col("id").alias("wid"), F.col("sigma").alias("wsigma"))
            .join(
                deltas[d + 1]
                .withColumnRenamed("id", "wid")
                .withColumnRenamed("delta", "wdelta"),
                ["root", "wid"],
            )
        )
        vsig = levels[d].select(
            "root", F.col("id").alias("vid"), F.col("sigma").alias("vsigma")
        )
        joined = (
            downs[d + 1]
            .select("root", "vid", F.col("id").alias("wid"))
            .join(join_side(w, counts[d + 1]), ["root", "wid"])
            .join(join_side(vsig, counts[d]), ["root", "vid"])
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # node δ recursion keeps the node kernel's exact expression shape
        acc = joined.groupBy("root", "vid").agg(
            F.sum((F.lit(1.0) + F.col("wdelta")) / F.col("wsigma")).alias("acc")
        )
        deltas[d] = (
            levels[d]
            .select("root", "id", "sigma")
            .join(acc.withColumnRenamed("vid", "id"), ["root", "id"], "left")
            .select(
                "root",
                "id",
                (F.col("sigma") * F.coalesce("acc", F.lit(0.0))).alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
        eterms.append(
            joined.select(
                F.col("vid").alias(SRC),
                F.col("wid").alias(DST),
                (F.col("vsigma") * (F.lit(1.0) + F.col("wdelta")) / F.col("wsigma"))
                .alias("contrib"),
            )
        )
        joined_frames.append(joined)
        downs[d + 1].unpersist()

    if eterms:
        all_terms = eterms[0]
        for t in eterms[1:]:
            all_terms = all_terms.unionByName(t)
        scores = all_terms.groupBy(SRC, DST).agg(F.sum("contrib").alias("_s"))
    else:
        scores = spark.createDataFrame([], f"{SRC} long, {DST} long, _s double")
    out = (
        e.filter(F.col(SRC) != F.col(DST))
        .join(scores, [SRC, DST], "left")
        .select(
            SRC, DST, F.round(F.coalesce("_s", F.lit(0.0)), 6).alias("ebc")
        )
        .localCheckpoint(eager=True)
    )
    for jf in joined_frames:
        jf.unpersist()
    e.unpersist()
    return out


def weighted_betweenness_centrality(
    edges: DataFrame,
    roots: list[int],
    weight_col: str = "weight",
    weight_resolution: int = 128,
    max_iter: int = 100,
) -> DataFrame:
    """Weighted Brandes (Brandes 2001 §4, Dijkstra variant) from K roots →
    DataFrame[id, bc: double].

    Phases, all multi-root keyed like the unweighted kernel:
    1. Exact-integer multi-source Bellman-Ford (traversal.multi_source_sssp:
       ŵ = floor(w·res)+1, BIGINT distances — DAG membership below is an
       exact integer equality, no float epsilon).
    2. Shortest-path DAG: edge (u,v) is on some shortest path from root
       iff dist(u) + ŵ(u,v) = dist(v) — one edge-table join against the
       distance state, persisted once.
    3. σ path counts (exact BIGINT) by full-recompute fixpoint
       σ ← [v=root] + Σ_in σ(u): on a DAG this converges to the exact
       counts in (max shortest-path hop length) rounds — the weighted
       replacement for the unweighted kernel's per-level σ-push, since
       weighted "levels" are not discrete.
    4. δ dependency fixpoint δ ← Σ_out (σ_v/σ_w)(1 + δ(w)) run the same
       number of rounds (the DAG depth bound is identical); the per-edge
       factor σ_v/σ_w is precomputed once.
    bc(v) = Σ_roots δ(v), v ≠ root.
    Work: O(L·|DAG|) per phase, L = max shortest-path hops — the price of
    no discrete levels; every join is a hash join on (root, id).
    """
    from ..graph import drop_self_loops
    from .traversal import multi_source_sssp

    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    roots = sorted(set(roots))

    dists = multi_source_sssp(
        edges, roots, weight_col=weight_col, weight_resolution=weight_resolution,
        max_iter=max_iter,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dists.count()

    rel = (
        drop_self_loops(edges)
        .select(
            SRC,
            DST,
            (
                F.floor(
                    F.col(weight_col).cast("double") * F.lit(float(weight_resolution))
                ).cast("long")
                + F.lit(1).cast("long")
            ).alias("w"),
        )
        .groupBy(SRC, DST)
        .agg(F.min("w").alias("w"))
    )
    du = dists.select("root", F.col("id").alias(SRC), F.col("dist").alias("du"))
    dv = dists.select("root", F.col("id").alias(DST), F.col("dist").alias("dv"))
    dag = (
        rel.join(du, SRC)
        .join(dv, ["root", DST])
        .filter(F.col("du") + F.col("w") == F.col("dv"))
        .select("root", F.col(SRC).alias("u"), F.col(DST).alias("v"))
        .repartition(p, "u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dag.count()

    reached = dists.select("root", "id")
    base = (F.col("id") == F.col("root")).cast("long")
    sigma = reached.withColumn("sigma", base).localCheckpoint(eager=True)
    prev_total = -1
    rounds = 0
    for _ in range(max_iter):
        contrib = (
            sigma.withColumnRenamed("id", "u")
            .join(dag, ["root", "u"])
            .groupBy("root", F.col("v").alias("id"))
            .agg(F.sum("sigma").alias("acc"))
        )
        # the convergence probe (exact BIGINT total — order-independent)
        # rides the eager checkpoint as an observed metric: one job per
        # round instead of checkpoint + aggregate
        obs = Observation()
        sigma = (
            reached.join(contrib, ["root", "id"], "left")
            .select(
                "root", "id", (base + F.coalesce("acc", F.lit(0))).alias("sigma")
            )
            .observe(obs, F.sum("sigma").alias("t"))
            .localCheckpoint(eager=True)
        )
        rounds += 1
        total = obs.get["t"]
        if total == prev_total:
            break
        prev_total = total

    s_u = sigma.select("root", F.col("id").alias("u"), F.col("sigma").alias("su"))
    s_v = sigma.select("root", F.col("id").alias("v"), F.col("sigma").alias("sv"))
    fac = (
        dag.join(s_u, ["root", "u"])
        .join(s_v, ["root", "v"])
        .select(
            "root", "u", "v",
            (F.col("su").cast("double") / F.col("sv").cast("double")).alias("f"),
        )
        .repartition(p, "v")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fac.count()

    delta = reached.withColumn("delta", F.lit(0.0)).localCheckpoint(eager=True)
    for _ in range(rounds):
        contrib = (
            delta.withColumnRenamed("id", "v")
            .join(fac, ["root", "v"])
            .groupBy("root", F.col("u").alias("id"))
            .agg(F.sum(F.col("f") * (F.lit(1.0) + F.col("delta"))).alias("acc"))
        )
        delta = (
            reached.join(contrib, ["root", "id"], "left")
            .select("root", "id", F.coalesce("acc", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=True)
        )

    bc = (
        delta.filter(F.col("id") != F.col("root"))
        .groupBy("id")
        .agg(F.sum("delta").alias("bc"))
    )
    out = (
        nodes_of(edges)
        .join(bc, "id", "left")
        .select("id", F.coalesce("bc", F.lit(0.0)).alias("bc"))
        .localCheckpoint(eager=True)
    )
    dists.unpersist()
    dag.unpersist()
    fac.unpersist()
    return out


def percolation_centrality(
    edges: DataFrame,
    roots: list[int] | None = None,
    k: int = 8,
    seed: int = 42,
    max_depth: int = 64,
    state_mod: int = 100,
) -> DataFrame:
    """Percolation centrality → DataFrame[id, pc] (6 dp).

    Published frame: Piraveenan, Prokopenko & Hossain, "Percolation
    Centrality: Quantifying Graph-Theoretic Impact of Nodes during
    Percolation in Networks" (PLoS ONE 2013) — betweenness where each
    source s counts proportionally to its infection state x_s:

        PC(v) = 1/(n−2) · Σ_{s≠v} δ_s(v) · x_s / (Σ_s x_s − x_v)

    (δ_s(v) the Brandes dependency; sums over the given/sampled root
    set, the same K-root operating point as the gated betweenness).
    States are synthetic-attribute deterministic (house convention):
    x_v = ((v·31) mod state_mod)/state_mod.

    Spark plan: ONE run of the audited multi-root Brandes kernel with
    per-root weights folded into its final aggregation (root_weights=) —
    no second pass; the normalization is a V-row closed-form column.
    """
    if roots is None:
        roots = pick_roots(edges, k, seed)
    x = [float((r * 31) % state_mod) / state_mod for r in roots]
    sx = sum(x)
    n = nodes_of(edges).count()
    wb = betweenness_centrality(
        edges, roots=roots, max_depth=max_depth, root_weights=x
    )
    xv = F.pmod(F.col("id") * 31, F.lit(state_mod)).cast("double") / F.lit(
        float(state_mod)
    )
    denom = (F.lit(sx) - xv) * F.lit(float(n - 2))
    return wb.select(
        "id",
        F.when(denom > 0, F.round(F.col("bc") / denom, 6))
        .otherwise(F.lit(0.0))
        .alias("pc"),
    )
