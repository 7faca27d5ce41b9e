"""Maximal matching — distributed locally-minimal-edge rounds.

The edge-centric sibling of Luby MIS (operators/mis.py): each round every
still-live edge draws a priority; an edge whose key is the minimum among
ALL live edges incident to either of its endpoints joins the matching,
and both endpoints (with every incident edge) deactivate. Locally-minimal
edges are endpoint-disjoint by construction, so each round adds a valid
set; a constant expected fraction of edges dies per round (Israeli–Itai
style analysis), giving O(log m) rounds.

Determinism (the oracle contract, entry_queries._matching_sql mirrors it
literally): for canonical undirected edge (a < b) with
eid = a·2^32 + b, round r —

    prio(e, r) = ((eid % 1000003) * 2654435761 + r * 1315423911
                  + (eid % 2147483647)) % 2147483647
    key(e, r)  = prio · 2^32 + (a·65599 + b) mod 2^32

(the MIS hash family over edge ids; the tie-break term mixes BOTH
endpoints so two distinct edges at a shared vertex virtually never
collide, and every term stays under 2^63 in either engine). A full-key
collision between adjacent edges would select two edges sharing a
vertex — the post-round disjointness guard raises instead of returning
an invalid matching (never observed).

Spark plan per round over the shrinking canonical edge set (one round
loop, ``_match_rounds``, serves both the unweighted and the weighted
kernel; only the key and the carried columns differ): one per-endpoint
min-key aggregate (union of both endpoint projections, map-side
combined), one self-join of edges against their endpoints' minima, one
anti-join to drop matched vertices. All JVM expressions; the round scope
(plans/fixpoint.rounds) materializes the live edge set once per round
and holds each round's matched edges as a result part until exit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, drop_self_loops
from ..plans.fixpoint import Rounds, rounds
from .mis import _prio

_B32 = 4_294_967_296


def _edge_key(rnd: int):
    a, b = F.col(SRC), F.col(DST)
    return _prio(a * F.lit(_B32) + b, rnd) * F.lit(_B32) + (a * F.lit(65599) + b) % F.lit(_B32)


def _weighted_key(rnd: int):
    a, b = F.col(SRC), F.col(DST)
    return ((F.lit(100000) - F.col("wq")) * F.lit(2_147_483_648) + _prio(
        a * F.lit(_B32) + b, rnd
    )) * F.lit(4096) + (a * F.lit(65599) + b) % F.lit(4096)


def _match_rounds(
    r: Rounds,
    live: DataFrame,
    n_live: int,
    key: Callable[[int], Column],
    name: str,
    max_rounds: int,
) -> DataFrame:
    """Locally-minimal-edge rounds over the materialized canonical edge set
    ``live`` (src < dst, plus any carried columns): each round matches
    every edge whose ``key(round)`` is the minimum at both its endpoints
    and drops all edges touching a matched vertex. Returns the matched
    edges with ``live``'s columns."""
    cols = live.columns
    for rnd in range(1, max_rounds + 1):
        if n_live == 0:
            break
        keyed = live.select(*cols, key(rnd).alias("k"))
        ends = keyed.select(F.col(SRC).alias("id"), "k").unionByName(
            keyed.select(F.col(DST).alias("id"), "k")
        )
        best = ends.groupBy("id").agg(F.min("k").alias("b"))
        sel, n_sel = r.part(
            keyed.join(
                best.withColumnRenamed("id", SRC).withColumnRenamed("b", "bs"), SRC
            )
            .join(best.withColumnRenamed("id", DST).withColumnRenamed("b", "bd"), DST)
            .filter((F.col("k") == F.col("bs")) & (F.col("k") == F.col("bd")))
            .select(*cols)
        )
        m_ids = (
            sel.select(F.col(SRC).alias("id"))
            .unionByName(sel.select(F.col(DST).alias("id")))
            .distinct()
        )
        if n_sel > 0:
            # disjointness guard: a full-key collision between adjacent
            # minimal edges would match a vertex twice — raise, don't return
            n_ends = m_ids.count()
            if n_ends != 2 * n_sel:
                raise RuntimeError(
                    f"{name} round {rnd}: selected edges share a vertex "
                    f"({n_sel} edges, {n_ends} distinct endpoints) — "
                    "adjacent full-key collision"
                )
        live, n_live = r.materialize(
            live.join(m_ids.withColumnRenamed("id", SRC), SRC, "left_anti").join(
                m_ids.withColumnRenamed("id", DST), DST, "left_anti"
            )
        )
    else:
        if n_live > 0:
            raise RuntimeError(
                f"{name} did not stabilize in max_rounds={max_rounds} "
                f"({n_live} edges still live); raise max_rounds"
            )
    out = r.parts()
    return live if out is None else out  # no part: live was empty


def maximal_matching(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """DataFrame[src, dst] (src < dst) — a maximal matching of the
    undirected simple graph: endpoint-disjoint edges such that every
    remaining edge touches a matched vertex. Deterministic (pure function
    of the edge set); raises if edges remain after ``max_rounds``."""
    with rounds() as r:
        live, n_live = r.start(
            drop_self_loops(edges.select(SRC, DST))
            .select(F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST))
            .distinct()
        )
        return _match_rounds(r, live, n_live, _edge_key, "matching", max_rounds)


def maximal_weight_matching(
    edges: DataFrame,
    weight_col: str = "weight",
    resolution: int = 100,
    max_rounds: int = 64,
) -> DataFrame:
    """DataFrame[src, dst, wq] (src < dst) — greedy locally-HEAVIEST
    maximal matching: each round matches every edge that is the heaviest
    live edge at both its endpoints (the classic ½-approximation of
    maximum weight matching, Preis 1999 / Hoepman 2004, in its
    parallel locally-dominant form).

    Weights are quantized once to integers wq = round(w·resolution)
    (must stay < 100000 — raise ``resolution`` awareness, not silent
    wrap); the canonical undirected edge takes the MAX wq over its two
    directed occurrences. Heavier-first with a round-rehashed tie-break,
    packed into one BIGINT key mirrored literally by the DuckDB oracle
    (entry_queries._weighted_matching_sql):

        key(e, r) = ((100000 − wq)·2^31 + prio(eid, r))·4096
                    + (a·65599 + b) mod 4096

    MIN-key selection ⇒ max weight wins, ties broken by the MIS hash
    family. Same round loop and disjointness guard as
    :func:`maximal_matching`."""
    und = drop_self_loops(
        edges.select(SRC, DST, F.col(weight_col).alias("_w"))
    ).select(
        F.least(SRC, DST).alias(SRC),
        F.greatest(SRC, DST).alias(DST),
        F.round(F.col("_w") * F.lit(float(resolution))).cast("long").alias("wq"),
    )
    with rounds() as r:
        live, n_live = r.start(und.groupBy(SRC, DST).agg(F.max("wq").alias("wq")))
        if n_live > 0:
            wq_max = live.agg(F.max("wq").alias("m")).collect()[0]["m"]
            if wq_max >= 100_000 or wq_max < 0:
                raise ValueError(
                    f"quantized weight {wq_max} outside [0, 100000) — the packed "
                    "key would reorder; lower `resolution` or rescale weights"
                )
        return _match_rounds(
            r, live, n_live, _weighted_key, "weighted matching", max_rounds
        )


def vertex_cover(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """DataFrame[id] — 2-approximate minimum vertex cover: both endpoints
    of every maximal-matching edge (Gavril/Yannakakis). Maximality makes
    it a cover (an uncovered edge could still be matched); it is ≤ 2×
    optimal because any cover must pick ≥ 1 endpoint of each matched
    edge. Pure composition over the matching kernel — the endpoints
    union is one projection, always exactly 2·|M| distinct ids."""
    m = maximal_matching(edges, max_rounds=max_rounds)
    return (
        m.select(F.col(SRC).alias("id"))
        .unionByName(m.select(F.col(DST).alias("id")))
        .distinct()
    )
