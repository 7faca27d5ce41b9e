"""Balanced label-propagation graph partitioning (Spinner-style).

At 10^12-edge scale the partitioner IS the engine: every downstream
iterative kernel's shuffle volume is the partition edge-cut. This module
implements the label-propagation partitioner of Martella et al.,
"Spinner: Scalable Graph Partitioning in the Cloud" (2014) — the
practical streaming-scale alternative to METIS — as synchronous
DataFrame rounds: each vertex moves to the partition holding the
plurality of its neighbors, discounted by how loaded that partition
already is, so the fixpoint balances degree volume while minimizing cut.

Determinism contract (what makes this ORACLE-GATEABLE, unlike the
randomized published variant): the score each vertex maximizes is kept
in EXACT INTEGER arithmetic. Spinner's real-valued score

    score(v,p) = w(v,p)/deg(v) − λ·load(p)/C ,   C = total_load/k

is argmax-equivalent (multiply by the positive constant deg(v)·C·k, set
λ = 1/4) to the integer score

    S(v,p) = 4·w(v,p)·total_load − k·deg(v)·load(p)

where w(v,p) = # neighbors of v in p and load(p) = Σ deg over members of
p. Integer scores mean NO float ties: Spark's max_by-struct argmax and
the oracle's ROW_NUMBER argmax pick the identical label on every engine.
(Headroom: S ≤ 4·deg·2E — int64-safe to ~10^9 edges per term pairing;
beyond that scale the score down by gcd or move to double, where exact
ties are measure-zero but the gate contract would weaken to allclose.)

Tie policy: higher score, then the vertex's CURRENT label (stickiness —
Spinner §3.2's migration damping, made deterministic), then smaller
label. Fixed synchronous rounds (no convergence test) keep the
recurrence SQL-unrollable; label-prop partitioning oscillates on
bipartite-ish structures, and stickiness plus fixed rounds sidesteps
adjudicating convergence cross-engine.

Plan shape per round (scale lens): one join of the cached und edge table
against the V-row label vector (edges streamed, labels shuffle), one
(id, lbl) count aggregate — map-side combinable, candidate set per
vertex ≤ min(deg, k)+1 — one k-row load aggregate broadcast back. No
window over a hub's full neighbor list anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import (
    DST,
    SRC,
    join_side,
    materialize,
    materialize_counted,
    symmetrize,
)

PARTITION_K = 8
PARTITION_ROUNDS = 6


def spinner_partition(
    edges: DataFrame,
    k: int = PARTITION_K,
    rounds: int = PARTITION_ROUNDS,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[id, d, part] — balanced k-way partition labels after
    ``rounds`` synchronous integer-scored label-propagation rounds; ``d``
    is the und degree (the load unit)."""
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    und = (
        symmetrize(edges).repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    )
    und.count()
    deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("d"))
    total = und.count()  # Σ deg = directed und edge count

    state, n_nodes = materialize_counted(
        deg.select(
            "id",
            "d",
            (((F.col("id") * F.lit(2654435761)) % F.lit(1048576)) % F.lit(k))
            .cast("long")
            .alias("part"),
        )
    )
    if total == 0:
        und.unpersist()
        return state

    for _ in range(rounds):
        loads = state.groupBy(F.col("part").alias("lbl")).agg(
            F.sum("d").alias("load")
        )
        nbr = (
            und.join(
                join_side(state.select(
                    F.col("id").alias(SRC), F.col("part").alias("lbl")
                ), n_nodes),
                SRC,
            )
            .groupBy(F.col(DST).alias("id"), "lbl")
            .agg(F.count("*").alias("w"))
        )
        # inject each node's CURRENT label as a w=0 candidate WITHOUT the
        # former (id, lbl) re-group: the score is strictly monotone in w,
        # so when the current label also appears among the neighbor
        # tallies the injected w=0 duplicate is dominated and the
        # groupBy(id).max(struct) below picks the same row — one V·deg-row
        # exchange less per round, identical labels
        cand = nbr.unionByName(
            state.select(
                "id", F.col("part").alias("lbl"), F.lit(0).cast("long").alias("w")
            )
        )
        scored = (
            cand.join(state.select("id", "d", F.col("part").alias("cur")), "id")
            .join(F.broadcast(loads), "lbl")
            .select(
                "id",
                "d",
                "lbl",
                (
                    F.lit(4) * F.col("w") * F.lit(total)
                    - F.lit(k) * F.col("d") * F.col("load")
                ).alias("score"),
                (F.col("lbl") == F.col("cur")).alias("is_cur"),
            )
        )
        prev = state
        state = materialize(
            scored.groupBy("id")
            .agg(
                F.first("d").alias("d"),
                F.max(
                    F.struct(
                        F.col("score"), F.col("is_cur"), (-F.col("lbl")).alias("nl")
                    )
                ).alias("best"),
            )
            .select("id", "d", (-F.col("best.nl")).alias("part"))
        )
        prev.unpersist()

    und.unpersist()
    return state


def partition_quality(
    edges: DataFrame, k: int = PARTITION_K, rounds: int = PARTITION_ROUNDS
) -> DataFrame:
    """One-row DataFrame[k, n_parts_used, max_load, min_load, imbalance,
    cut_frac]: degree-volume balance (imbalance = max_load·k/total) and
    the fraction of und edges crossing partitions — the two numbers a
    placement of this partition onto k executors cares about."""
    part = spinner_partition(edges, k=k, rounds=rounds).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    und = symmetrize(edges)
    crossing = (
        und.join(part.select(F.col("id").alias(SRC), F.col("part").alias("ps")), SRC)
        .join(part.select(F.col("id").alias(DST), F.col("part").alias("pd")), DST)
        .filter(F.col("ps") != F.col("pd"))
        .count()
    )
    total = und.count()
    loads = part.groupBy("part").agg(F.sum("d").alias("load"))
    row = loads.agg(
        F.count("*").alias("used"),
        F.max("load").alias("mx"),
        F.min("load").alias("mn"),
    ).head()
    spark = edges.sparkSession
    part.unpersist()
    if total == 0:
        return spark.createDataFrame(
            [(k, 0, 0, 0, 0.0, 0.0)],
            "k int, n_parts_used long, max_load long, min_load long,"
            " imbalance double, cut_frac double",
        )
    return spark.createDataFrame(
        [
            (
                k,
                int(row["used"]),
                int(row["mx"]),
                int(row["mn"]),
                round(float(row["mx"]) * k / total, 6),
                round(float(crossing) / total, 6),
            )
        ],
        "k int, n_parts_used long, max_load long, min_load long,"
        " imbalance double, cut_frac double",
    )
