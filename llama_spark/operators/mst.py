"""Minimum spanning forest — distributed Borůvka rounds.

Borůvka is the MST algorithm with a native vertex-centric/BSP form
(every other classical MST algorithm is inherently sequential): each
round every component picks its minimum-weight outgoing edge, all picked
edges join the forest, and the components they connect merge. Components
at least halve per round → ≤ ⌈log₂ V⌉ rounds.

Determinism: edges are totally ordered by (weight, src, dst) after
canonicalization to src < dst with the per-pair minimum weight, so the
"minimum edge" of a component is unique — the forest is a pure function
of the weighted edge set, which is what lets a DuckDB unroll replay it
exactly (entry_queries._mst_sql).

Component merging inside a round: every component has exactly one
chosen edge, so the chosen graph on component ids is a functional
pseudoforest — in-trees hanging off two-cycles, where each two-cycle is
a cluster's global-minimum edge chosen from both sides. Breaking each
two-cycle toward the smaller id turns it into in-trees; log-step
**pointer doubling** (p ← p∘p) then resolves every component to its
root without the diameter-bound label-propagation a hash-min pass would
need (a chosen chain of length L converges in log₂ L doublings, not L
rounds). The comp→root table is |components| rows — shrinking
geometrically — while the full edge table is touched exactly once per
round for relabeling, which is the irreducible Borůvka cost.

Skew: the per-component min is a single map-side-combinable
min(struct) aggregate — a hub component with millions of incident edges
partially aggregates on every partition; nothing ever materializes a
component's full incident-edge list in one task.

Cache lifetime: the round scope (plans/fixpoint.rounds) owns the
canonical edge table for the call, the component table for one round
and each round's chosen edges as a result part until exit; the pointer
doubling is a fixpoint on ``plans/fixpoint.iterate``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, is_small
from ..plans.fixpoint import iterate, rounds


def _canonical_und(edges: DataFrame, weight_col: str) -> DataFrame:
    """Each unordered pair once as (a<b, min weight over both directions)."""
    return (
        edges.filter(F.col(SRC) != F.col(DST))
        .select(
            F.least(SRC, DST).alias("a"),
            F.greatest(SRC, DST).alias("b"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )


def _compose(block: int):
    """One pointer-doubling step of ``iterate``: ``block`` lazy
    compositions with the state's pointers (comp, p), the pre-step
    pointer kept as ``p_old`` for the moved-count probe."""

    def step(pp: DataFrame, _it: int) -> DataFrame:
        base = pp.select("comp", "p")
        cur = base.select("comp", F.col("p").alias("p_old"), "p")
        for _d in range(block):
            cur = (
                cur.alias("x")
                .join(base.alias("y"), F.col("x.p") == F.col("y.comp"), "left")
                .select(
                    F.col("x.comp").alias("comp"),
                    F.col("x.p_old").alias("p_old"),
                    F.coalesce(F.col("y.p"), F.col("x.p")).alias("p"),
                )
            )
        return cur

    return step


def minimum_spanning_forest(
    edges: DataFrame, weight_col: str = "weight", max_rounds: int = 50
) -> DataFrame:
    """DataFrame[src, dst, weight] — the minimum spanning forest, one row
    per forest edge with src < dst. Exact, deterministic (unique total
    edge order (weight, src, dst)).
    """
    with rounds() as r:
        e = r.hold(_canonical_und(edges, weight_col))
        # comp: node id -> component label (values only group; any consistent
        # labeling yields the same partition, hence the same chosen edges).
        # comp goes through ``materialize`` (NOT bare localCheckpoint): it
        # feeds self-referential joins, and carried size estimates square
        # per round — see graph.materialize.
        comp, _ = r.start(
            e.select(F.col("a").alias("id"))
            .unionByName(e.select(F.col("b").alias("id")))
            .distinct()
            .select("id", F.col("id").alias("comp"))
        )

        for _round in range(max_rounds):
            ca = comp.select(F.col("id").alias("a"), F.col("comp").alias("comp_a"))
            cb = comp.select(F.col("id").alias("b"), F.col("comp").alias("comp_b"))
            labeled = (
                e.join(ca, "a")
                .join(cb, "b")
                .filter(F.col("comp_a") != F.col("comp_b"))
            )
            # min outgoing edge per component: each inter-component edge is a
            # candidate for both endpoints' components
            cand = labeled.select(
                F.col("comp_a").alias("comp"),
                F.struct("w", "a", "b", F.col("comp_b").alias("other")).alias("e"),
            ).unionByName(
                labeled.select(
                    F.col("comp_b").alias("comp"),
                    F.struct("w", "a", "b", F.col("comp_a").alias("other")).alias("e"),
                )
            )
            chosen, n_chosen = r.part(
                cand.groupBy("comp")
                .agg(F.min("e").alias("e"))
                .select("comp", F.col("e.w").alias("w"), F.col("e.a").alias("a"),
                        F.col("e.b").alias("b"), F.col("e.other").alias("other"))
            )
            if n_chosen == 0:
                break  # no inter-component edge anywhere: forest complete

            # merge: pointer p(comp) = other endpoint's component; break the
            # mutual two-cycles toward the smaller id, then pointer-double.
            p = chosen.select("comp", F.col("other").alias("p"))
            pp0 = (
                p.alias("x")
                .join(p.alias("y"), F.col("x.p") == F.col("y.comp"))
                .select(
                    F.col("x.comp").alias("comp"),
                    F.when(
                        (F.col("y.p") == F.col("x.comp")) & (F.col("x.comp") < F.col("x.p")),
                        F.col("x.comp"),
                    ).otherwise(F.col("x.p")).alias("p"),
                )
            )
            # pointer resolution: chain up to 4 composition steps LAZILY per
            # materialized job while the component table is broadcast-small —
            # compositions past the fixpoint are idempotent (p∘p = p), so the
            # result is identical to step-at-a-time execution. Past the bound
            # every step materializes on its own — a V-row first-round table
            # must not be re-referenced k+1 times lazily.
            pp = iterate(
                pp0,
                _compose(4 if is_small(n_chosen) else 1),
                max_iter=64,  # each step at least doubles every pointer's reach
                updated_metric=F.sum(
                    F.when(F.col("p_old") != F.col("p"), F.lit(1)).otherwise(F.lit(0))
                ),
                name="msf_pointers",
            ).state
            comp, _ = r.materialize(
                comp.join(
                    pp.withColumnRenamed("comp", "c_old"), comp["comp"] == F.col("c_old"), "left"
                ).select("id", F.coalesce("p", "comp").alias("comp"))
            )
        else:
            raise RuntimeError(f"Borůvka did not converge in max_rounds={max_rounds}")

        forest = r.parts()
    return forest.select(
        F.col("a").alias(SRC), F.col("b").alias(DST), F.round(F.col("w"), 6).alias("weight")
    ).distinct()
