"""Greedy distributed graph coloring — Jones–Plassmann (1993), the classic
companion kernel to Luby MIS (operators/mis.py): give every node a fixed
pseudo-random priority; in each synchronous round, a node whose priority
beats every UNCOLORED neighbor takes the smallest color unused by its
already-colored neighbors (the greedy mex). Expected O(log n / log log n)
rounds; colors ≤ Δ+1 like sequential greedy. Standard consumers:
scheduling conflicting updates, register-allocation-style batching,
symmetry breaking beyond a single MIS layer.

Determinism: the priority is the SAME packed (prio, id) BIGINT key as MIS
(round-independent here — JP fixes priorities once), so the full coloring
is a pure function of the edge set and replays exactly in the SQL oracle.
The mex candidate range per node is bounded by its count of used neighbor
colors (mex ≤ #used), so the explode is O(colored-degree), never a global
color-range scan.

Scale shape per round (all the usual policies): live edges = the cached
undirected table semi-filtered by the shrinking active set; one
neighbor-min aggregate; ready nodes' used-color join; a bounded
sequence-explode + anti-join for the mex. The round scope
(plans/fixpoint.rounds) owns every cached frame: the undirected table
and degrees for the call, ready and used for one round, the active set
(round state through ``materialize`` — it feeds both sides of the
neighbor-min, the size-estimate-squaring hazard) until the next, and
each round's mex frame as a result part until exit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, drop_self_loops, nodes_of, undirected_double
from ..plans.fixpoint import rounds
from .mis import _key


def greedy_coloring(edges: DataFrame, max_rounds: int = 512) -> DataFrame:
    """DataFrame[id: long, color: long] — a valid greedy coloring (no edge
    joins two equal colors; every node colored). Raises if the active set
    survives ``max_rounds``.

    Depth caveat (measured, round 5): JP's round count is the
    priority-DAG depth — O(log n/log log n) on bounded-degree graphs, but
    on skewed web graphs the hub tail stretches it (82 rounds on the 4096-
    node/60k-edge gate graph, 506 at 10× the edges; per-round priority
    re-hashing does not help: 58/381). The kernel is round-for-round
    correct at any depth; budget rounds accordingly or color a
    hub-decontracted graph.
    """
    spark = edges.sparkSession
    with rounds() as r:
        und, _ = r.keep(drop_self_loops(undirected_double(edges.select(SRC, DST))).distinct())
        # undirected degree, computed once: the mex candidate bound (mex ≤
        # #used-colors ≤ degree, so sequence(0, deg) always contains the
        # answer — any bound ≥ mex yields the identical minimum, which is why
        # the SQL oracle may use the tighter used-count bound instead)
        deg, _ = r.keep(und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("_deg")))
        active, _ = r.start(nodes_of(und))

        for _round in range(max_rounds):
            live = und.join(active.withColumnRenamed("id", DST), DST, "left_semi")
            nbr_min = (
                live.join(active.withColumnRenamed("id", SRC), SRC, "left_semi")
                .groupBy(F.col(SRC).alias("id"))
                .agg(F.min(_key(F.col(DST), 0)).alias("b"))
            )
            # ready is referenced three times below (used, mex base, active
            # anti-join) — cache it or each reference re-walks the live-edge
            # aggregate
            ready = r.cache(
                active.join(nbr_min, "id", "left")
                .filter(F.col("b").isNull() | (_key(F.col("id"), 0) < F.col("b")))
                .select("id")
            )
            # colored state = the earlier rounds' mex parts: their union is
            # never re-materialized wholesale, each round's used-color join
            # reads the cached leaves directly
            colored = r.parts()
            if colored is not None:
                used = r.cache(
                    und.join(ready.withColumnRenamed("id", SRC), SRC, "left_semi")
                    .join(colored.select(F.col("id").alias(DST), "color"), DST)
                    .select(F.col(SRC).alias("id"), "color")
                )
            else:
                used = spark.createDataFrame([], "id long, color long")
            r.part(
                ready.join(deg, "id")
                .select(
                    "id",
                    F.explode(F.sequence(F.lit(0), F.col("_deg"))).alias("color"),
                )
                .join(used, ["id", "color"], "left_anti")
                .groupBy("id")
                .agg(F.min("color").cast("long").alias("color"))
            )
            active, n_active = r.materialize(active.join(ready, "id", "left_anti"))
            if n_active == 0:
                break
        else:
            raise RuntimeError(
                f"greedy_coloring did not finish in max_rounds={max_rounds}"
            )
        colored = r.parts()
    return colored.localCheckpoint(eager=True)
