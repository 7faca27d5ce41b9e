"""Maximal independent set — distributed Luby rounds.

The classic vertex-centric symmetry-breaking kernel (Luby 1986): each
round every still-active node draws a priority; a node whose priority is
a strict local minimum among its active neighbors joins the MIS, and it
and its neighbors deactivate. Expected O(log n) rounds on any graph.

Determinism (the oracle contract): the per-round priority is a pure
integer hash of (id, round) —

    prio(v, r) = ((v % 1000003) * 2654435761 + r * 1315423911
                  + (v % 2147483647)) % 2147483647

every term stays far below 2^63 for any id DuckDB's BIGINT can hold (no
overflow divergence between engines — Java wraps, DuckDB raises), and
ties between equal priorities are broken by the id's low 32 bits, packed
with the priority into one BIGINT comparison key (see ``_key``).

Spark plan per round (und edge table cached once, reused):

    active(id) ⨝ und ⨝ active       -- live neighbor pairs
    groupBy(id).min(key)            -- best neighbor key per node
    select: no neighbor OR own key < best neighbor's

Deactivation is one more semi/anti join against the selected set. All
JVM expressions; the active set shrinks geometrically, so later rounds
are nearly free. The round scope (plans/fixpoint.rounds) owns every
cached frame: the edge table for the call, the active set for one
round, and each round's selected set as a result part until exit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, drop_self_loops, nodes_of, undirected_double
from ..plans.fixpoint import rounds

# mirrored literally in the DuckDB oracle (entry_queries._mis_sql,
# _matching_sql, _weighted_matching_sql)
_P1, _P2, _P3, _MOD = 1_000_003, 2_654_435_761, 1_315_423_911, 2_147_483_647


def _prio(col, rnd: int):
    """The per-round priority hash of an id (a node id here, a packed
    edge id in operators/matching.py); every term stays far below 2^63."""
    return ((col % _P1) * F.lit(_P2) + F.lit(rnd * _P3) + (col % _MOD)) % F.lit(_MOD)


def _key(col, rnd: int):
    """Packed (prio, id) comparison key: prio·2^32 + (id mod 2^32), one
    BIGINT — a strict total order per adjacent pair in practice (an equal
    key needs equal prio AND equal id mod 2^32; even then the pair merely
    stalls one round, since the prio re-hashes with the round number).
    Packed instead of a (prio, id) struct because struct-MIN is ~1000×
    slower in the DuckDB oracle. prio < 2^31 keeps the product under 2^63
    (no overflow in either engine)."""
    return _prio(col, rnd) * F.lit(4_294_967_296) + (col % F.lit(4_294_967_296))


def maximal_independent_set(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """DataFrame[id: long] — the members of a maximal independent set.

    Deterministic (pure function of the edge set); raises if the active
    set is non-empty after ``max_rounds`` (never observed — Luby needs
    O(log n) rounds with high probability).
    """
    with rounds() as r:
        und = r.hold(drop_self_loops(undirected_double(edges)).distinct())
        # round state goes through ``materialize`` (localCheckpoint + cached
        # real stats): active feeds BOTH sides of the live-neighbor join, and
        # carried size estimates would square per round — see graph.materialize
        active, n_active = r.start(nodes_of(und))

        for rnd in range(1, max_rounds + 1):
            if n_active == 0:
                break
            a_src = active.select(F.col("id").alias(SRC))
            a_dst = active.select(F.col("id").alias(DST))
            live = und.join(a_src, SRC, "left_semi").join(a_dst, DST, "left_semi")
            best_nbr = live.groupBy(F.col(SRC).alias("id")).agg(
                F.min(_key(F.col(DST), rnd)).alias("b")
            )
            sel, _ = r.part(
                active.join(best_nbr, "id", "left")
                .filter(F.col("b").isNull() | (_key(F.col("id"), rnd) < F.col("b")))
                .select("id")
            )
            # deactivate the selected and everything adjacent to them
            nbrs_of_sel = (
                und.join(sel.withColumnRenamed("id", SRC), SRC, "left_semi")
                .select(F.col(DST).alias("id"))
            )
            active, n_active = r.materialize(
                active.join(sel, "id", "left_anti").join(nbrs_of_sel, "id", "left_anti")
            )
        else:
            if n_active > 0:
                raise RuntimeError(
                    f"MIS did not stabilize in max_rounds={max_rounds} "
                    f"({n_active} nodes still active); raise max_rounds"
                )
        out = r.parts()
    return active if out is None else out  # no part: und was empty
