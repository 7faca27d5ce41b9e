"""Strongly connected components — distributed FW-BW coloring.

The reference computes SCC with sequential Tarjan DFS (tarjan_scc.h:57-206,
ll_dfs_template.h) — inherently unparallelizable, so SURVEY §2.1 scoped it
out in favor of the north rule's hash-min CC. This module provides the
distributed stand-in anyway: the forward-backward *coloring* decomposition
(Orzan-style FW-BW-MS, the standard vertex-centric SCC):

repeat on the active subgraph:
  1. **color** — propagate ``color(v) = max(color(v), colors of
     in-neighbors)`` to fixpoint; every v with color(v)==v is a root, and
     color(v)==c implies c→v (forward reachability partition).
  2. **backward mark** — multi-source BFS from the roots along REVERSED
     edges, restricted to same-color nodes; marked v satisfies v→c, so
     marked ∩ color-class == the complete SCC of each root (FW∩BW theorem).
  3. peel the found SCCs off and repeat on the remainder.

Each outer round settles at least every root's SCC; worst case (a reversed
path) needs O(V) rounds, web graphs settle in a handful. Output labels are
canonical: scc = min node id of the component (exact-match testable
against a sequential Kosaraju oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import DST, SRC, drop_self_loops, join_side, nodes_of


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 50,
    max_prop_iters: int = 100,
    stats: dict | None = None,
) -> DataFrame:
    """DataFrame[id, scc] — scc = min member id of the node's SCC.

    ``stats`` (optional dict) is filled with ``colorings`` (forward-coloring
    fixpoints paid), ``trim_rounds`` (degree-peel iterations) and
    ``trimmed`` (nodes settled by Trim alone) — the observable that the
    Trim step actually replaces colorings (see test_scc_trim_chain)."""
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))

    all_nodes = nodes_of(edges).persist(StorageLevel.MEMORY_AND_DISK)
    all_nodes.count()
    # the active edge set is persisted (NOT localCheckpointed) so its
    # hash(src) layout survives — this build's localCheckpoint drops output
    # partitioning, which would re-exchange the edge table through every
    # coloring iteration's join (see plans/fixpoint.py); each peel/trim
    # rebuild persists the new frame, materializes it, then drops the old
    active_edges = (
        drop_self_loops(edges.select(SRC, DST).distinct())
        .repartition(p, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    active_edges.count()

    def _swap_edges(new_edges: DataFrame, old: DataFrame) -> DataFrame:
        new_edges = new_edges.persist(StorageLevel.MEMORY_AND_DISK)
        new_edges.count()
        old.unpersist()
        return new_edges

    active_nodes = all_nodes.localCheckpoint(eager=True)
    # per-round (id, scc) frames accumulate in a Python list of already-
    # checkpointed frames, unioned ONCE at the end — re-unioning and
    # re-checkpointing the accumulator every round is O(rounds · V) writes
    # (the same anti-pattern fixed in bc.py's forward-level accumulation)
    assigned_parts: list[DataFrame] = []
    _stats = {"colorings": 0, "trim_rounds": 0, "trimmed": 0}

    remaining = active_nodes.count()
    for _round in range(max_rounds):
        if remaining == 0:
            break

        # 0. Trim (FW-BW-Trim): a node whose in- OR out-degree within the
        # active subgraph is 0 is a singleton SCC — peel those iteratively
        # with cheap degree filters BEFORE paying a full coloring fixpoint.
        # On web graphs trivial SCCs dominate once the giant SCC is gone,
        # so this turns most outer rounds' colorings into no-ops.
        while remaining > 0:
            # the surviving-node count rides the checkpoint job via observe
            # — one job per trim round instead of checkpoint + count
            tobs = Observation(f"scc_trim_{_round}_{_stats['trim_rounds']}")
            keep = (
                active_edges.select(F.col(SRC).alias("id"))
                .distinct()
                .join(active_edges.select(F.col(DST).alias("id")).distinct(), "id")
                .observe(tobs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            n_keep = int(tobs.get["n"])
            n_trivial = remaining - n_keep
            if n_trivial == 0:
                break
            trivial = active_nodes.join(keep, "id", "left_anti").select(
                "id", F.col("id").alias("scc")
            ).localCheckpoint(eager=True)
            assigned_parts.append(trivial)
            _stats["trim_rounds"] += 1
            _stats["trimmed"] += n_trivial

            active_nodes = keep
            active_edges = _swap_edges(
                active_edges.join(
                    join_side(keep.withColumnRenamed("id", SRC), n_keep), SRC, "left_semi"
                ).join(
                    join_side(keep.withColumnRenamed("id", DST), n_keep), DST, "left_semi"
                ),
                active_edges,
            )
            remaining = n_keep
        if remaining == 0:
            break

        # 1. forward coloring to fixpoint (max-propagation along out-edges);
        # the changed-count rides the checkpoint job via observe — one job
        # per propagation iteration
        colors = active_nodes.select("id", F.col("id").alias("color"))
        colors = colors.localCheckpoint(eager=True)
        colors_persisted = False
        _stats["colorings"] += 1
        changed = 0
        for _pi in range(max_prop_iters):
            incoming = (
                join_side(colors, remaining)
                .join(active_edges, colors["id"] == active_edges[SRC])
                .groupBy(F.col(DST).alias("id"))
                .agg(F.max("color").alias("cmax"))
            )
            obs = Observation(f"scc_r{_round}_p{_pi}")
            new_colors = (
                colors.join(incoming, "id", "left")
                .select(
                    "id",
                    F.greatest("color", F.coalesce("cmax", "color")).alias("color"),
                    (
                        F.col("cmax").isNotNull() & (F.col("cmax") > F.col("color"))
                    ).alias("changed"),
                )
                .observe(obs, F.sum(F.col("changed").cast("long")).alias("n"))
            )
            # persist cadence (localCheckpoint every 4th for lineage) —
            # same reasoning as the fixpoint driver: keep the state's
            # partitioning between iterations
            old_colors, old_persisted = colors, colors_persisted
            if _pi % 4 == 3:
                new_colors = new_colors.localCheckpoint(eager=True)
                colors_persisted = False
            else:
                new_colors = new_colors.persist(StorageLevel.MEMORY_AND_DISK)
                new_colors.count()
                colors_persisted = True
            changed = int(obs.get["n"] or 0)
            colors = new_colors.select("id", "color")
            if old_persisted:
                old_colors.unpersist()
            if changed == 0:
                break
        if colors_persisted:
            # hand the backward phase a checkpointed frame so nothing
            # persisted leaks past this round
            final = colors.localCheckpoint(eager=True)
            new_colors.unpersist()
            colors = final
        if changed != 0:
            # a non-fixpoint coloring would split real SCCs silently
            raise RuntimeError(
                f"SCC forward coloring did not converge within "
                f"max_prop_iters={max_prop_iters} (round {_round}, "
                f"{changed} nodes still changing); raise max_prop_iters"
            )

        # 2. backward mark from roots within color classes. Levels accumulate
        # in a list of checkpointed frames (marked = lazy union — no
        # re-checkpoint of the growing set per level); the level's row count
        # rides its checkpoint job via observe.
        rev = (
            active_edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
            .repartition(p, SRC)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        rev.count()
        roots = colors.filter(F.col("id") == F.col("color")).select("id", "color")
        marked_parts = [roots.localCheckpoint(eager=True)]
        frontier = marked_parts[0]
        lvl = 0
        while True:
            marked = marked_parts[0]
            for part in marked_parts[1:]:
                marked = marked.unionByName(part)
            obs = Observation(f"scc_r{_round}_b{lvl}")
            lvl += 1
            step = (
                frontier.join(rev, frontier["id"] == rev[SRC])
                .select(F.col(DST).alias("id"), "color")
                .join(colors.withColumnRenamed("color", "c2"), "id")
                .filter(F.col("color") == F.col("c2"))
                .select("id", "color")
                .join(marked, ["id", "color"], "left_anti")
                .distinct()
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            if int(obs.get["n"] or 0) == 0:
                break
            marked_parts.append(step)
            frontier = step
        rev.unpersist()

        marked = marked_parts[0]
        for part in marked_parts[1:]:
            marked = marked.unionByName(part)
        # canonical label: min member id per (root) color class found
        canon = marked.groupBy("color").agg(F.min("id").alias("scc"))
        found = marked.join(canon, "color").select("id", "scc").localCheckpoint(
            eager=True
        )
        assigned_parts.append(found)

        # 3. peel off and continue on the remainder
        active_nodes = active_nodes.join(found, "id", "left_anti").localCheckpoint(
            eager=True
        )
        remaining = active_nodes.count()
        active_edges = _swap_edges(
            active_edges.join(found.select(F.col("id").alias(SRC)), SRC, "left_anti")
            .join(found.select(F.col("id").alias(DST)), DST, "left_anti"),
            active_edges,
        )

    if remaining > 0:
        raise RuntimeError(
            f"SCC did not settle all nodes within max_rounds={max_rounds} "
            f"({remaining} nodes unassigned); raise max_rounds"
        )
    if assigned_parts:
        assigned = assigned_parts[0]
        for part in assigned_parts[1:]:
            assigned = assigned.unionByName(part)
        out = all_nodes.join(assigned, "id", "left").select(
            "id", F.coalesce("scc", "id").alias("scc")
        )
    else:
        out = all_nodes.select("id", F.col("id").alias("scc"))
    out = out.localCheckpoint(eager=True)
    all_nodes.unpersist()
    active_edges.unpersist()
    if stats is not None:
        stats.update(_stats)
    return out


def condensation_levels(edges: DataFrame, max_iter: int = 200) -> DataFrame:
    """DataFrame[comp, level] — topological LONGEST-PATH depth of every
    component of the SCC condensation DAG: level(C) = 0 for components
    with no incoming condensation edge, else 1 + max over predecessors.
    The standard "how deep is the web's dependency structure" census and
    the scheduling order for any per-SCC sequential pass (Tarjan's output
    order in the reference is one linearization of exactly this DAG —
    tarjan_scc.h settles an SCC only after everything it reaches).

    Plan: one SCC run, one E-row double label join to contract edges to
    the component graph (distinct — multi-edges collapse), then a
    Bellman-Ford-style max-relaxation over the C-row level table: each
    sweep is one join + max aggregate over the contracted edge set, and a
    DAG converges in ≤ depth sweeps. The contracted table is persisted;
    sweeps observe their changed-count on the checkpoint job. At web
    scale the condensation is tiny next to the graph (the giant SCC
    swallows most mass), so every sweep is a small-table fixpoint."""
    from ..graph import materialize

    spark = edges.sparkSession
    labels = strongly_connected_components(edges).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    labels.count()
    ls = labels.select(F.col("id").alias(SRC), F.col("scc").alias("cs"))
    ld = labels.select(F.col("id").alias(DST), F.col("scc").alias("cd"))
    cedges = (
        edges.select(SRC, DST)
        .join(ls, SRC)
        .join(ld, DST)
        .filter(F.col("cs") != F.col("cd"))
        .select("cs", "cd")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cedges.count()

    lev = materialize(
        labels.select(F.col("scc").alias("comp")).distinct().select(
            "comp", F.lit(0).cast("long").alias("level")
        )
    )
    for _sweep in range(max_iter):
        cand = (
            lev.join(cedges, lev["comp"] == cedges["cs"])
            .groupBy(F.col("cd").alias("comp"))
            .agg((F.max("level") + F.lit(1)).alias("in_level"))
        )
        obs = Observation(f"cond_{_sweep}")
        prev = lev
        nxt = materialize(
            lev.join(cand, "comp", "left")
            .select(
                "comp",
                F.col("level").alias("_old"),
                F.greatest(
                    "level", F.coalesce("in_level", F.lit(0).cast("long"))
                ).alias("level"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("level") != F.col("_old"), 1).otherwise(0)
                ).alias("changed"),
            )
            .select("comp", "level"),
            observed=True,
        )
        lev = nxt
        prev.unpersist()
        if int(obs.get["changed"] or 0) == 0:
            break
    else:
        raise RuntimeError(
            f"condensation_levels did not converge in max_iter={max_iter} "
            "sweeps — the condensation must be a DAG (is the SCC output "
            "consistent?)"
        )
    labels.unpersist()
    cedges.unpersist()
    return lev
