"""Bridges and 2-edge-connected components — exact, distributed.

Reference semantics: the classic single-node bridge finder is a DFS
lowpoint pass (the same inherently-sequential family as LLAMA's
``tarjan_scc``, benchmark/benchmarks/tarjan_scc.h:61-156, and the retired
``ll_dfs_template.h``). The distributed formulation used here is the
spanning-forest + cycle-coverage characterisation (the observation behind
Pritchard's cycle-space sampling, PODC 2006, and the AGM graph-sketch
line): fix ANY spanning forest of the undirected graph; every non-tree
edge lies on a cycle, so every bridge is a tree edge, and a tree edge
(parent(c) — c) is a bridge iff NO non-tree edge has exactly one endpoint
inside subtree(c). We count those endpoints exactly — no sampling, no
false positives.

Spark plan (exact integer arithmetic end-to-end):

1. hash-min CC → per-component root = min node id (components.py kernel).
2. BFS from all roots at once → depth(v) (one frontier wave; components
   are disjoint so no root key is needed).
3. parent(v) = MIN neighbour at depth(v)-1 → a deterministic BFS forest
   (both engines pick the same forest, so the oracle matches exactly).
4. Ancestor closure by pointer doubling over the parent relation —
   O(log depth) self-joins; |A| = Σ_v depth(v) rows. On a web graph the
   BFS depth from the giant component's min id is O(log V)-ish tens, so
   A is O(V · depth): the same state bound HyperBall-style neighbourhood
   functions pay, and each doubling round is one shuffle.
5. Explode non-tree edges to endpoints, join the ancestor table once:
   hits(c)  = #non-tree endpoints inside subtree(c),
   both(c)  = #non-tree edges with BOTH endpoints inside subtree(c);
   covered(c) = hits(c) − 2·both(c);  bridge ⇔ covered(c) = 0.

At 100-TB scale every step is a hash shuffle on node id (no windows, no
per-vertex sorts, no driver loops); the only super-linear state is the
ancestor table, bounded by V·diameter — the standard price of exact cut
structure without a sequential DFS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import DST, SRC, join_side, nodes_of, symmetrize
from .components import connected_components


def bfs_forest(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """Deterministic BFS spanning forest → DataFrame[id, root, depth, parent].

    root = min node id of the component (hash-min CC label); depth = BFS
    level from that root; parent = MIN neighbour one level up (NULL at
    roots). Both choices are order-free aggregates, so the forest is
    partition-count invariant and replayable in ANSI SQL.
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = symmetrize(edges).repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    und.count()

    # Fused CC + BFS: one delta fixpoint over lexicographic (component,
    # depth) — each vertex converges to (min reachable id, BFS distance to
    # it), i.e. the hash-min label AND the depth from the component root in
    # a single kernel instead of a CC fixpoint followed by a BFS wave.
    from ..plans.fixpoint import iterate

    nodes = nodes_of(edges)
    n = nodes.count()

    init = nodes.select(
        "id",
        F.col("id").alias("comp"),
        F.lit(0).cast("long").alias("depth"),
        F.lit(True).alias("changed"),
    )

    def step(state: DataFrame, _i: int) -> DataFrame:
        frontier = state.filter(F.col("changed")).select("id", "comp", "depth")
        cand = (
            join_side(frontier, n).join(und, frontier["id"] == und[SRC])
            .groupBy(F.col(DST).alias("id"))
            .agg(
                F.min(F.struct(F.col("comp"), (F.col("depth") + 1).alias("depth"))).alias(
                    "c"
                )
            )
        )
        improved = F.col("c").isNotNull() & (
            (F.col("c.comp") < F.col("comp"))
            | ((F.col("c.comp") == F.col("comp")) & (F.col("c.depth") < F.col("depth")))
        )
        return state.join(join_side(cand, n), "id", "left").select(
            "id",
            F.when(improved, F.col("c.comp")).otherwise(F.col("comp")).alias("comp"),
            F.when(improved, F.col("c.depth")).otherwise(F.col("depth")).alias("depth"),
            improved.alias("changed"),
        )

    res = iterate(
        init,
        step,
        max_iter=max_iter,
        updated_metric=F.sum(F.col("changed").cast("long")),
        truncate_every=1,
        name="bfs_forest",
    )
    depths = res.state.select("id", F.col("comp").alias("root"), "depth")

    dep_u = depths.select(F.col("id").alias(SRC), F.col("depth").alias("d_src"))
    dep_v = depths.select(F.col("id").alias(DST), F.col("depth").alias("d_dst"))
    parents = (
        und.join(dep_u, SRC)
        .join(dep_v, DST)
        .filter(F.col("d_src") == F.col("d_dst") - 1)
        .groupBy(F.col(DST).alias("id"))
        .agg(F.min(SRC).alias("parent"))
    )
    out = (
        depths.join(parents, "id", "left")
        .select("id", "root", "depth", "parent")
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    return out


def _ancestors(forest: DataFrame, max_doublings: int = 12) -> DataFrame:
    """Inclusive ancestor closure DataFrame[id, anc] by pointer doubling:
    (v, v) ∪ (v, parent(v)), then A ← A ∪ (A ∘ A) until fixpoint —
    O(log depth) rounds, each one distinct-shuffle."""
    from pyspark.sql import Observation

    anc = (
        forest.select(F.col("id"), F.col("id").alias("anc"))
        .unionByName(
            forest.filter(F.col("parent").isNotNull()).select(
                "id", F.col("parent").alias("anc")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = anc.count()
    for _d in range(max_doublings):
        hop = anc.select(F.col("id").alias("anc"), F.col("anc").alias("anc2"))
        # the convergence row count rides the checkpoint job via observe —
        # one Spark job per doubling round instead of two
        obs = Observation(f"ancestors_{_d}")
        grown = (
            anc.unionByName(
                anc.join(hop, "anc").select("id", F.col("anc2").alias("anc"))
            )
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_new = int(obs.get["n"] or 0)
        anc = grown
        if n_new == n:
            break
        n = n_new
    return anc


def bridges(edges: DataFrame) -> DataFrame:
    """Exact cut edges → DataFrame[u, v] with u < v (canonical undirected).

    An edge is a bridge iff its removal disconnects its component. Exact
    coverage counting over a deterministic BFS forest (module docstring);
    no randomisation, so the result is bit-stable across partitionings.
    """
    forest = bfs_forest(edges).persist(StorageLevel.MEMORY_AND_DISK)
    forest.count()

    und = symmetrize(edges)
    cund = (
        und.filter(F.col(SRC) < F.col(DST))
        .select(F.col(SRC).alias("u"), F.col(DST).alias("v"))
        .distinct()
    )
    tree = forest.filter(F.col("parent").isNotNull()).select(
        F.least("parent", "id").alias("u"),
        F.greatest("parent", "id").alias("v"),
        F.col("id").alias("child"),
    )
    nt = cund.join(tree.select("u", "v"), ["u", "v"], "left_anti")

    anc = _ancestors(forest)
    ep = nt.select(F.col("u").alias("w"), "u", "v").unionByName(
        nt.select(F.col("v").alias("w"), "u", "v")
    )
    per_edge_anc = (
        ep.join(anc, ep["w"] == anc["id"])
        .groupBy("anc", "u", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    covered = per_edge_anc.groupBy(F.col("anc").alias("child")).agg(
        (F.sum("cnt") - 2 * F.sum((F.col("cnt") == 2).cast("long"))).alias("covered")
    )
    out = (
        tree.join(covered, "child", "left")
        .filter(F.coalesce(F.col("covered"), F.lit(0)) == 0)
        .select("u", "v")
    )
    out = out.localCheckpoint(eager=True)
    forest.unpersist()
    return out


def two_edge_components(edges: DataFrame) -> DataFrame:
    """2-edge-connected components → DataFrame[id, component] (component =
    min node id of the class): connected components of the graph with its
    bridges deleted; isolated-by-deletion vertices keep their own id."""
    br = bridges(edges)
    und = symmetrize(edges)
    cund = (
        und.filter(F.col(SRC) < F.col(DST))
        .select(F.col(SRC).alias("u"), F.col(DST).alias("v"))
        .distinct()
    )
    kept = cund.join(br, ["u", "v"], "left_anti").select(
        F.col("u").alias(SRC), F.col("v").alias(DST)
    )
    comp = connected_components(kept)
    return (
        nodes_of(edges)
        .join(comp, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )



def biconnected_blocks(edges: DataFrame) -> DataFrame:
    """Biconnected components → DataFrame[u, v, block] — one row per
    canonical undirected edge, block = MIN tree-edge child id in its block
    (every block contains at least one spanning-forest edge).

    Characterisation: "lies on a common cycle" is an equivalence relation
    on edges whose classes are exactly the blocks; fundamental cycles
    generate it, so blocks = connected components of the bipartite graph
    {tree edges} ∪ {non-tree edges} with an edge wherever a non-tree
    edge's fundamental cycle covers a tree edge. The exact coverage pairs
    are the cnt=1 rows the bridge computation already materialises —
    Tarjan-Vishkin's auxiliary graph is the sparsified version of this;
    we run hash-min CC on the dense certificate directly (size
    Σ fundamental-cycle lengths = O(E·depth), the same bound as the
    ancestor table). Uncovered tree edges are bridges = singleton blocks.

    Node ids must fit u·(max_id+1)+v in a long (the non-tree-edge encoding
    used to key the bipartite CC) — true for any graph with < 2^31 ids.
    """
    forest = bfs_forest(edges).persist(StorageLevel.MEMORY_AND_DISK)
    forest.count()

    und = symmetrize(edges)
    cund = (
        und.filter(F.col(SRC) < F.col(DST))
        .select(F.col(SRC).alias("u"), F.col(DST).alias("v"))
        .distinct()
    )
    tree = forest.filter(F.col("parent").isNotNull()).select(
        F.least("parent", "id").alias("u"),
        F.greatest("parent", "id").alias("v"),
        F.col("id").alias("child"),
    )
    # nt is referenced twice (the coverage pairs AND nt_blocks below) —
    # left lazy, the symmetrize + distinct + anti-join chain re-ran per
    # reference; checkpoint it once
    nt = cund.join(tree.select("u", "v"), ["u", "v"], "left_anti").localCheckpoint(
        eager=True
    )

    anc = _ancestors(forest)
    ep = nt.select(F.col("u").alias("w"), "u", "v").unionByName(
        nt.select(F.col("v").alias("w"), "u", "v")
    )
    per_edge_anc = (
        ep.join(anc, ep["w"] == anc["id"])
        .groupBy("anc", "u", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    b = (
        forest.agg(F.max("id")).collect()[0][0] or 0
    ) + 1  # encoding base: one 1-row agg
    nt_id = -(F.col("u") * F.lit(b) + F.col("v")) - 1
    cover = per_edge_anc.filter(F.col("cnt") == 1).select(
        F.col("anc").alias(SRC), nt_id.alias(DST)
    )
    comp = connected_components(cover)

    tree_comp = tree.join(
        comp.withColumnRenamed("id", "child"), "child", "left"
    )
    block_of_comp = (
        tree_comp.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.min("child").alias("block"))
    )
    tree_blocks = (
        tree_comp.join(block_of_comp, "component", "left")
        .select("u", "v", F.coalesce("block", "child").alias("block"))
    )
    nt_blocks = (
        nt.withColumn("ntid", nt_id)
        .join(comp.withColumnRenamed("id", "ntid"), "ntid")
        .join(block_of_comp, "component")
        .select("u", "v", "block")
    )
    out = tree_blocks.unionByName(nt_blocks).localCheckpoint(eager=True)
    forest.unpersist()
    return out


def articulation_points(edges: DataFrame) -> DataFrame:
    """Exact cut vertices → DataFrame[id]: a vertex is an articulation
    point iff its incident edges span ≥ 2 distinct biconnected blocks
    (textbook block-tree characterisation — uniform for roots, no DFS
    lowpoints)."""
    blocks = biconnected_blocks(edges)
    vb = (
        blocks.select(F.col("u").alias("id"), "block")
        .unionByName(blocks.select(F.col("v").alias("id"), "block"))
        .distinct()
    )
    return (
        vb.groupBy("id")
        .agg(F.countDistinct("block").alias("nb"))
        .filter(F.col("nb") >= 2)
        .select("id")
    )
