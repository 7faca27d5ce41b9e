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

Cache lifetime: one round scope (plans/fixpoint.rounds) per call owns
the node set, the live edge table — cached, not checkpointed, so its
hash(src) layout survives; each trim or peel that replaces it ends a
round and releases the table it replaced — and the found components as
result parts. The forward coloring is a ``plans/fixpoint.iterate``
fixpoint; the backward mark owns its reversed edge table in a scope of
its own, which releases it as soon as the mark is done.
"""

from __future__ import annotations

from itertools import count

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..graph import DST, SRC, drop_self_loops, join_side, nodes_of
from ..plans.fixpoint import Rounds, iterate, rounds


def _replace_edges(r: Rounds, df: DataFrame) -> DataFrame:
    """Make ``df`` the live edge table: cache and count it, then end the
    round, which releases the table it replaces."""
    df = r.cache(df)
    r.end_round(rows=df.count())
    return df


def _checkpoint_counted(df: DataFrame, name: str) -> tuple[DataFrame, int]:
    """``localCheckpoint`` with the row count riding the same job."""
    obs = Observation(name)
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, int(obs.get["n"] or 0)


def _color_step(active_edges: DataFrame, remaining: int):
    """One forward-coloring iteration: color(v) ← max(color(v), colors
    of in-neighbors), with a ``changed`` flag for the probe."""

    def step(state: DataFrame, _it: int) -> DataFrame:
        colors = state.select("id", "color")
        incoming = (
            join_side(colors, remaining)
            .join(active_edges, colors["id"] == active_edges[SRC])
            .groupBy(F.col(DST).alias("id"))
            .agg(F.max("color").alias("cmax"))
        )
        return colors.join(incoming, "id", "left").select(
            "id",
            F.greatest("color", F.coalesce("cmax", "color")).alias("color"),
            (F.col("cmax").isNotNull() & (F.col("cmax") > F.col("color"))).alias(
                "changed"
            ),
        )

    return step


def _mark_backward(
    colors: DataFrame, active_edges: DataFrame, p: int, tag: str
) -> DataFrame:
    """(id, color) of every node that reaches its color's root: a
    multi-source BFS from the roots along reversed edges, restricted to
    same-color nodes. Levels are checkpointed and unioned lazily (no
    re-checkpoint of the growing set per level); each level's row count
    rides its checkpoint job."""
    with rounds() as r:
        rev, _ = r.keep(
            active_edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
            .repartition(p, SRC)
        )
        roots = colors.filter(F.col("id") == F.col("color")).select("id", "color")
        marked = frontier = roots.localCheckpoint(eager=True)
        for lvl in count():
            step, n = _checkpoint_counted(
                frontier.join(rev, frontier["id"] == rev[SRC])
                .select(F.col(DST).alias("id"), "color")
                .join(colors.withColumnRenamed("color", "c2"), "id")
                .filter(F.col("color") == F.col("c2"))
                .select("id", "color")
                .join(marked, ["id", "color"], "left_anti")
                .distinct(),
                f"{tag}_b{lvl}",
            )
            if n == 0:
                return marked
            marked = marked.unionByName(step)
            frontier = step


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
    _stats = {"colorings": 0, "trim_rounds": 0, "trimmed": 0}

    with rounds() as r:
        all_nodes, remaining = r.keep(nodes_of(edges))
        active_nodes = all_nodes
        active_edges = _replace_edges(
            r, drop_self_loops(edges.select(SRC, DST).distinct()).repartition(p, SRC)
        )

        for _round in range(max_rounds):
            if remaining == 0:
                break

            # 0. Trim (FW-BW-Trim): a node whose in- OR out-degree within the
            # active subgraph is 0 is a singleton SCC — peel those iteratively
            # with cheap degree filters BEFORE paying a full coloring fixpoint.
            # On web graphs trivial SCCs dominate once the giant SCC is gone,
            # so this turns most outer rounds' colorings into no-ops.
            while remaining > 0:
                keep, n_keep = _checkpoint_counted(
                    active_edges.select(F.col(SRC).alias("id"))
                    .distinct()
                    .join(active_edges.select(F.col(DST).alias("id")).distinct(), "id"),
                    f"scc_trim_{_round}_{_stats['trim_rounds']}",
                )
                n_trivial = remaining - n_keep
                if n_trivial == 0:
                    break
                r.part(
                    active_nodes.join(keep, "id", "left_anti").select(
                        "id", F.col("id").alias("scc")
                    )
                )
                _stats["trim_rounds"] += 1
                _stats["trimmed"] += n_trivial

                active_nodes = keep
                active_edges = _replace_edges(
                    r,
                    active_edges.join(
                        join_side(keep.withColumnRenamed("id", SRC), n_keep), SRC, "left_semi"
                    ).join(
                        join_side(keep.withColumnRenamed("id", DST), n_keep), DST, "left_semi"
                    ),
                )
                remaining = n_keep
            if remaining == 0:
                break

            # 1. forward coloring to fixpoint (max-propagation along out-edges);
            # the changed-count rides each iteration's materialization job
            _stats["colorings"] += 1
            coloring = iterate(
                active_nodes.select("id", F.col("id").alias("color")),
                _color_step(active_edges, remaining),
                max_iter=max_prop_iters,
                updated_metric=F.sum(F.col("changed").cast("long")),
                truncate_every=4,
                name=f"scc_r{_round}",
            )
            if not coloring.converged:
                # a non-fixpoint coloring would split real SCCs silently
                changed = coloring.metrics[-1].updated if coloring.metrics else None
                raise RuntimeError(
                    f"SCC forward coloring did not converge within "
                    f"max_prop_iters={max_prop_iters} (round {_round}, "
                    f"{changed} nodes still changing); raise max_prop_iters"
                )
            colors = coloring.state.select("id", "color")

            # 2. backward mark from roots within color classes
            marked = _mark_backward(colors, active_edges, p, f"scc_r{_round}")
            # canonical label: min member id per (root) color class found
            canon = marked.groupBy("color").agg(F.min("id").alias("scc"))
            found, _ = r.part(marked.join(canon, "color").select("id", "scc"))

            # 3. peel off and continue on the remainder
            active_nodes, remaining = _checkpoint_counted(
                active_nodes.join(found, "id", "left_anti"), f"scc_peel_{_round}"
            )
            active_edges = _replace_edges(
                r,
                active_edges.join(found.select(F.col("id").alias(SRC)), SRC, "left_anti")
                .join(found.select(F.col("id").alias(DST)), DST, "left_anti"),
            )

        if remaining > 0:
            raise RuntimeError(
                f"SCC did not settle all nodes within max_rounds={max_rounds} "
                f"({remaining} nodes unassigned); raise max_rounds"
            )
        assigned = r.parts()
        if assigned is not None:
            out = all_nodes.join(assigned, "id", "left").select(
                "id", F.coalesce("scc", "id").alias("scc")
            )
        else:
            out = all_nodes.select("id", F.col("id").alias("scc"))
        out = out.localCheckpoint(eager=True)
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
    DAG converges in ≤ depth sweeps. The labels and the contracted table
    are held by one round scope; the sweeps are a ``plans/fixpoint.iterate``
    fixpoint whose changed-count rides each sweep's materialization job.
    At web scale the condensation is tiny next to the graph (the giant SCC
    swallows most mass), so every sweep is a small-table fixpoint."""

    def sweep(state: DataFrame, _it: int) -> DataFrame:
        lev = state.select("comp", "level")
        cand = (
            lev.join(cedges, lev["comp"] == cedges["cs"])
            .groupBy(F.col("cd").alias("comp"))
            .agg((F.max("level") + F.lit(1)).alias("in_level"))
        )
        return lev.join(cand, "comp", "left").select(
            "comp",
            F.col("level").alias("_old"),
            F.greatest("level", F.coalesce("in_level", F.lit(0).cast("long"))).alias(
                "level"
            ),
        )

    with rounds() as r:
        labels, _ = r.keep(strongly_connected_components(edges))
        ls = labels.select(F.col("id").alias(SRC), F.col("scc").alias("cs"))
        ld = labels.select(F.col("id").alias(DST), F.col("scc").alias("cd"))
        cedges, _ = r.keep(
            edges.select(SRC, DST)
            .join(ls, SRC)
            .join(ld, DST)
            .filter(F.col("cs") != F.col("cd"))
            .select("cs", "cd")
            .distinct()
        )
        res = iterate(
            labels.select(F.col("scc").alias("comp")).distinct().select(
                "comp", F.lit(0).cast("long").alias("level")
            ),
            sweep,
            max_iter=max_iter,
            updated_metric=F.sum(F.when(F.col("level") != F.col("_old"), 1).otherwise(0)),
            name="cond",
        )
    if not res.converged:
        raise RuntimeError(
            f"condensation_levels did not converge in max_iter={max_iter} "
            "sweeps — the condensation must be a DAG (is the SCC output "
            "consistent?)"
        )
    return res.state.select("comp", "level")
