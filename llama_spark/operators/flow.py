"""Unit-capacity s–t max-flow / minimum edge cut (Edmonds–Karp).

Completes the connectivity family (bridges / articulation points /
2-edge-connected / biconnected components) with the s–t variant: λ(s,t)
edge-disjoint paths and the matching minimum cut (Menger's theorem).
Beyond-reference; the building block is the reference's BFS template
(ll_bfs_template.h:170-292) — each augmentation is one residual BFS.

Fully deterministic (→ DuckDB-oracle replicable):
- BFS over residual edges (cap > 0); a node reached at level d gets
  parent = MIN in-neighbor among the level-(d−1) frontier (first reach
  wins, min-parent tie-break) — the augmenting path is unique.
- Augment exactly 1 unit along that path (unit capacities): forward caps
  −1, reverse caps +1.
- Converged when a BFS no longer reaches the sink. Then S = the reach
  set, and the min cut is the ORIGINAL edges (u∈S, v∉S); |cut| = flow.

Scale shape: the residual is cached hash-partitioned on its tail key and
STREAMS through every BFS level — only the (small) frontier moves, via
the repo-wide broadcast≤100k-nodes / shuffle-hash policy; the per-level
anti-join runs BEFORE the min-parent aggregate so both ride one exchange
on id. Level row count + sink membership ride the level checkpoint as
observed metrics (no extra count jobs). The augmenting-path walk is a
lazy chain of exactly sink-depth 1-row⨝parent-map joins (the depth is a
1-row read off the checkpointed map), cached and built by the first job
that reads it; the residual update is one union + groupBy-sum — the
inherent Edmonds–Karp O(E) round cost. Augmentation count is bounded by
λ(s,t) (tens between web hubs).

Cache lifetime: one round scope (plans/fixpoint.rounds) per call owns
every cached frame. Each augmentation is a round: materializing the new
residual ends it and releases the previous residual and the round's
path. The original edges and the reach set are checkpointed result
parts, so ``s_side`` and ``cut_edges`` stay readable from their
checkpoint blocks after the scope has released their cache entries.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, drop_self_loops, join_side
from ..plans.fixpoint import checkpoint_counted, rounds
from .traversal import _union


@dataclass
class FlowResult:
    flow: int
    converged: bool
    s_side: DataFrame  # DataFrame[id] — source side of the cut
    cut_edges: DataFrame  # DataFrame[src, dst, cap] — original crossing edges


def _residual_bfs(
    resid: DataFrame,
    root: DataFrame,
    sink: int,
    max_depth: int,
    n_nodes: int,
    block: int = 2,
) -> tuple[DataFrame, int | None]:
    """(parent map [id,parent,depth], walk_bound|None) — min-parent BFS
    over cap>0 residual edges. ``block`` levels are chained LAZILY and
    checkpointed in ONE observed job (level count, sink membership, and
    deepest non-empty level ride the checkpoint — no extra count jobs).
    Keep ``block`` small: a lazily chained level references the previous
    one in both its frontier and its dedup anti-join, so the analyzed
    plan grows ~2^block per job — 2 halves the job count for a bounded
    constant. Results are plan-identical to level-at-a-time execution.
    On a hit, walk_bound = deepest materialized level (≥ the sink's
    depth; the parent walk's extra steps past the source are empty)."""
    parts = [root]
    frontier = root.select("id")
    d = 0
    while d < max_depth:
        width = min(block, max_depth - d)
        reach_cur = _union([p.select("id") for p in parts])
        front_cur = frontier
        levels = []
        for j in range(1, width + 1):
            cand = (
                resid.filter(F.col("cap") > 0)
                .join(join_side(front_cur.withColumnRenamed("id", "a"), n_nodes), "a")
                .select(F.col("b").alias("id"), F.col("a").alias("parent"))
            )
            nxt = (
                cand.join(join_side(reach_cur, n_nodes), "id", "left_anti")
                .groupBy("id")
                .agg(F.min("parent").alias("parent"))
                .withColumn("depth", F.lit(d + j))
            )
            levels.append(nxt)
            reach_cur = reach_cur.unionByName(nxt.select("id"))
            front_cur = nxt.select("id")
        blockdf, m = checkpoint_counted(
            _union(levels),
            "flow_bfs",
            F.max((F.col("id") == sink).cast("int")).alias("hit"),
            F.max("depth").alias("deepest"),
        )
        if m["n"] == 0:
            break
        parts.append(blockdf)
        if m["hit"] == 1:
            return _union(parts), int(m["deepest"])
        frontier = blockdf.filter(F.col("depth") == m["deepest"]).select("id")
        if m["deepest"] < d + width:  # frontier died mid-block
            break
        d += width
    return _union(parts), None


def max_flow_unit(
    edges: DataFrame,
    source: int,
    sink: int,
    max_augment: int = 8,
    max_depth: int = 16,
    capacity_col: str | None = None,
) -> FlowResult:
    """Edmonds–Karp on the directed simple graph: unit capacities by
    default, integer capacities via ``capacity_col`` (parallel edges'
    capacities ADD — multigraph semantics; each augmentation pushes the
    path bottleneck, read back as a 1-row aggregate).

    ``flow`` = the max flow (= λ(source, sink) in the unit case) when
    ``converged`` (sink unreached by the final residual BFS within
    ``max_depth`` levels); otherwise the flow after ``max_augment``
    augmentations. ``cut_edges`` is the minimum cut with original
    capacities (Σcap = flow by max-flow/min-cut) and ``s_side`` the full
    source-side reach set — both meaningful only when converged (an
    unconverged run reports the reach of its last, sink-hitting BFS)."""
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    unit = capacity_col is None
    cap_in = F.lit(1) if unit else F.col(capacity_col).cast("long")
    with rounds() as r:
        orig, _ = r.part(
            drop_self_loops(edges.select(SRC, DST, cap_in.alias("cap")))
            .groupBy(SRC, DST)
            .agg(F.sum("cap").alias("cap"))
        )
        n_nodes = (
            orig.select(F.col(SRC).alias("id"))
            .unionByName(orig.select(F.col(DST).alias("id")))
            .distinct()
            .count()
        )
        resid, _ = r.start(
            orig.select(
                F.col(SRC).alias("a"), F.col(DST).alias("b"), F.col("cap")
            ).repartition(p, "a")
        )
        root = spark.createDataFrame(
            [(int(source), None, 0)], "id long, parent long, depth int"
        ).localCheckpoint(eager=True)

        flow = 0
        while True:
            pm, walk_bound = _residual_bfs(resid, root, sink, max_depth, n_nodes)
            converged = walk_bound is None
            if converged or flow >= max_augment:
                s_side, _ = r.part(pm.select("id"))
                break

            # unique augmenting path: lazy walk of ≤ walk_bound steps from
            # the sink over the (checkpointed) parent map; steps past the
            # source are empty (parent NULL joins nothing). Cached for the
            # round: the bottleneck probe and the residual update read it.
            cur = pm.filter(F.col("id") == sink).select("id", "parent")
            pparts = []
            for _ in range(walk_bound):
                pparts.append(
                    cur.select(F.col("parent").alias("pa"), F.col("id").alias("pb"))
                )
                cur = pm.join(
                    cur.select(F.col("parent").alias("id")), "id"
                ).select("id", "parent")
            path = r.cache(_union(pparts).filter(F.col("pa").isNotNull()))
            if unit:
                bottleneck = 1  # unit caps — no job needed
            else:
                # path bottleneck: 1-row aggregate over path⨝residual caps
                bottleneck = int(
                    path.join(
                        resid,
                        (resid["a"] == path["pa"]) & (resid["b"] == path["pb"]),
                    )
                    .agg(F.min("cap"))
                    .collect()[0][0]
                )

            upd = (
                resid.select("a", "b", "cap")
                .unionByName(
                    path.select(
                        F.col("pa").alias("a"),
                        F.col("pb").alias("b"),
                        F.lit(-bottleneck).alias("cap"),
                    )
                )
                .unionByName(
                    path.select(
                        F.col("pb").alias("a"),
                        F.col("pa").alias("b"),
                        F.lit(bottleneck).alias("cap"),
                    )
                )
            )
            # ends the round: the path and the previous residual go
            resid, _ = r.materialize(
                upd.groupBy("a", "b")
                .agg(F.sum("cap").alias("cap"))
                .filter(F.col("cap") > 0)
                .repartition(p, "a")
            )
            flow += bottleneck

    # orig and s_side are checkpointed: readable after the scope released
    # their cache entries
    cut = (
        orig.join(s_side.withColumnRenamed("id", SRC), SRC, "left_semi")
        .join(s_side.withColumnRenamed("id", DST), DST, "left_anti")
        .select(SRC, DST, "cap")
    )
    return FlowResult(flow=flow, converged=converged, s_side=s_side, cut_edges=cut)


def max_flow_summary(
    edges: DataFrame,
    source: int,
    sink: int,
    max_augment: int = 8,
    max_depth: int = 16,
    capacity_col: str | None = None,
) -> DataFrame:
    """1-row DataFrame[max_flow, converged, s_side, cut_edges,
    cut_capacity] — the max-flow value with its min-cut witness
    (cut_capacity == max_flow at convergence is Menger's theorem showing
    up in the artifact; in the unit case cut_capacity == cut_edges)."""
    r = max_flow_unit(
        edges, source, sink, max_augment=max_augment, max_depth=max_depth,
        capacity_col=capacity_col,
    )
    return (
        r.s_side.agg(F.count(F.lit(1)).alias("s_side"))
        .crossJoin(
            r.cut_edges.agg(
                F.count(F.lit(1)).alias("cut_edges"),
                F.coalesce(F.sum("cap"), F.lit(0)).alias("cut_capacity"),
            )
        )
        .select(
            F.lit(r.flow).cast("long").alias("max_flow"),
            F.lit(r.converged).alias("converged"),
            F.col("s_side").cast("long"),
            F.col("cut_edges").cast("long"),
            F.col("cut_capacity").cast("long"),
        )
    )
