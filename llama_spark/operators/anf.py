"""Approximate neighborhood function — Flajolet–Martin bitmask ANF
(Palmer, Gibbons & Faloutsos, KDD'02), the standard way to estimate
N(t) = avg #nodes reachable within t hops (and from it the effective
diameter) on web-scale graphs where exact all-pairs BFS is hopeless.

Each node carries R Flajolet–Martin bitmasks; mask r starts with the
single bit 2^ρ(h_r(v)) (ρ = index of the lowest set bit of a deterministic
60-bit md5-derived hash — branch-free: ``(h|2^59) & -(h|2^59)`` IS that
power of two, with bit 59 forced so h=0 cannot yield an empty mask).
One synchronous round ORs every node's masks into its in-neighbors:

    mask_t(v) = mask_{t-1}(v)  |  BIT_OR_{v→w} mask_{t-1}(w)

so after t rounds mask_t(v) summarizes {u reachable from v in ≤ t hops}.
The per-node cardinality estimate is the FM formula 2^(mean_r b_r)/0.77351
where b_r = position of the lowest UNSET bit of mask r — extracted with
pure integer ops (``lz = ~m & -~m`` is 2^b, then ``bit_count(lz-1) = b``),
so the whole fixpoint is exact-integer and replays bit-identically in any
SQL engine; floats appear only in the final one-row-per-t estimate.

Spark plan per round: one join of the (id → R mask columns) state with the
dst-partitioned cached edge table + one groupBy(src) BIT_OR — V-row state
shuffles, the edge table streams in place (pagerank.py policy). State is
V rows × R longs regardless of graph size; at 100 TB this is the ONLY
per-node sketch whose round cost matches plain BFS while answering "how
big is the t-ball" for every node at once.

The reference's closest primitives are the BFS template + approx
diameter double-sweep (ll_bfs_template.h); ANF generalizes both.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import token_hash
from ..graph import DST, SRC, join_side, nodes_of
from ..plans.fixpoint import Rounds, rounds

FM_PHI = 0.77351  # Flajolet–Martin bias correction


def _fm_bit(id_col, r: int):
    """2^ρ(h_r(id)) as a BIGINT — the initial FM mask for register r."""
    h = token_hash(F.concat(id_col.cast("string"), F.lit(f":anf{r}")))
    forced = h.bitwiseOR(F.lit(1 << 59))
    return forced.bitwiseAND(-forced)


def _lowest_unset_bits(masks: list[str]) -> Column:
    """Σ_r b_r, b_r = position of the lowest unset bit of mask r:
    ``bit_count(((~m) & -(~m)) - 1)`` — exact integer."""
    bsum = None
    for m in masks:
        b = F.bit_count(F.expr(f"((~{m}) & -(~{m})) - 1").cast("long")).cast("long")
        bsum = b if bsum is None else bsum + b
    return bsum


def _ball_setup(
    r: Rounds, edges: DataFrame, masks: list[str], p: int
) -> tuple[DataFrame, DataFrame, int]:
    """(initial masks [id, *masks], dst-partitioned edge table held by
    ``r``, node count)."""
    e = r.hold(edges.select(SRC, DST).distinct().repartition(p, DST))
    nodes = nodes_of(edges)
    n_nodes = nodes.count()
    init = nodes.select(
        "id", *[_fm_bit(F.col("id"), i).alias(m) for i, m in enumerate(masks)]
    )
    return init, e, n_nodes


def _ball_step(
    e: DataFrame, state: DataFrame, masks: list[str], n_nodes: int, carry=()
) -> DataFrame:
    """One synchronous HyperBall round: every node ORs its out-neighbours'
    masks into its own — one BIT_OR aggregate over the edge table, merged
    by ``bitwiseOR``; ``carry`` columns pass through unchanged."""
    nbr = (
        e.join(join_side(state.select(F.col("id").alias(DST), *masks), n_nodes), DST)
        .groupBy(F.col(SRC).alias("id"))
        .agg(*[F.expr(f"bit_or({m})").alias(f"o{m}") for m in masks])
    )
    return state.join(nbr, "id", "left").select(
        "id",
        *carry,
        *[
            F.col(m).bitwiseOR(F.coalesce(F.col(f"o{m}"), F.lit(0))).alias(m)
            for m in masks
        ],
    )


def neighborhood_function(
    edges: DataFrame,
    max_t: int = 6,
    registers: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[t, avg_reach] for t = 0..max_t: the estimated average
    number of nodes within t hops (directed, out-edges), t=0 ≈ 1.

    Lazy result: each row is a 1-row aggregate over that round's
    checkpointed state (t=0 recomputes the initial masks), unioned —
    collecting runs max_t+1 tiny jobs, nothing else. The round scope
    releases each state's cache entry once the next state exists, and
    the last one on return.
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    masks = [f"m{r}" for r in range(registers)]

    def estimate(st: DataFrame, t: int) -> DataFrame:
        # b_r = bit_count(((~m) & -(~m)) - 1); est = 2^(Σb/R)/φ, averaged
        est = F.pow(
            F.lit(2.0), _lowest_unset_bits(masks).cast("double") / F.lit(float(registers))
        )
        return st.agg(
            F.round(
                F.sum(est) / F.lit(FM_PHI) / F.lit(float(n_nodes)), 6
            ).alias("avg_reach")
        ).select(F.lit(t).alias("t"), "avg_reach")

    with rounds() as r:
        init, e, n_nodes = _ball_setup(r, edges, masks, p)
        if n_nodes == 0:
            return spark.createDataFrame([], "t int, avg_reach double")
        state = r.cache(init.repartition(p, "id"))
        state.count()
        out = estimate(state, 0)
        for t in range(1, max_t + 1):
            state, _ = r.materialize(_ball_step(e, state, masks, n_nodes))
            out = out.unionByName(estimate(state, t))
    return out


def effective_diameter(
    edges: DataFrame,
    max_t: int = 6,
    registers: int = 8,
    quantile: float = 0.9,
    num_partitions: int | None = None,
) -> DataFrame:
    """One row [effective_diameter: int] — the smallest t whose estimated
    t-ball reaches ``quantile`` of the max_t-ball (the classic ANF
    consumer: "90% of reachable pairs are within t hops"). Pure compose
    over ``neighborhood_function``; both engines compare the same
    6-dp-rounded estimates, so the argmin is stable.
    """
    # the nf frame is max_t+1 rows but each row is an aggregate job over a
    # checkpointed round state, and it is referenced twice below (max + argmin)
    # — checkpoint the tiny result so the aggregates run once
    nf = neighborhood_function(
        edges, max_t=max_t, registers=registers, num_partitions=num_partitions
    ).localCheckpoint(eager=True)
    mx = nf.agg(F.max("avg_reach").alias("mx"))
    return (
        nf.crossJoin(F.broadcast(mx))
        .filter(F.col("avg_reach") >= F.lit(quantile) * F.col("mx"))
        .agg(F.min("t").alias("effective_diameter"))
    )


def _hyperball_centralities(
    edges: DataFrame,
    max_t: int = 6,
    registers: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[id, harmonic, closeness] — HyperBall (Boldi & Vigna,
    2013): centralities estimated for EVERY node at plain-BFS cost, via
    the same FM ball sketches as :func:`neighborhood_function`:

        ĥ(v) = Σ_{t=1..max_t} ΔB̂(v,t) / t      ≈ Σ_u 1 / d(v→u)
        Ĉ(v) = (B̂(v,max_t) − 1) / Σ_t t·ΔB̂(v,t)  ≈ (|reach|−1) / Σ_u d(v→u)

    (out-direction balls, matching the exact K-root operators'
    conventions; ΔB̂(v,t) = B̂(v,t) − B̂(v,t−1), the estimated count of
    nodes at distance exactly t). This is the ALL-nodes centrality scale
    path: the exact ``multi_source_bfs_depths`` kernel answers K sampled
    roots, HyperBall answers all V at the same per-round join cost with
    V×R-long state — at 10¹² nodes the difference is the operator
    existing or not.

    Determinism: the mask fixpoint is exact-integer (identical in any
    engine); the per-node FM estimates are floats, but both engines
    evaluate the SAME left-associated expression chains over the same
    mask-derived integers, and the outputs round to 6 dp.
    """
    spark = edges.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    masks = [f"m{r}" for r in range(registers)]

    def est() -> Column:
        return F.pow(
            F.lit(2.0), _lowest_unset_bits(masks).cast("double") / F.lit(float(registers))
        ) / F.lit(FM_PHI)

    with rounds() as r:
        init, e, n_nodes = _ball_setup(r, edges, masks, p)
        if n_nodes == 0:
            return spark.createDataFrame(
                [], "id long, harmonic double, closeness double, eccentricity int"
            )
        state = r.cache(
            init.withColumn("pe", est())
            .withColumn("h", F.lit(0.0))
            .withColumn("s", F.lit(0.0))
            .withColumn("ecc", F.lit(0).cast("int"))
            .repartition(p, "id")
        )
        state.count()

        for t in range(1, max_t + 1):
            merged = _ball_step(e, state, masks, n_nodes, carry=("pe", "h", "s", "ecc"))
            state, _ = r.materialize(
                merged.withColumn("ne", est()).select(
                    "id",
                    *masks,
                    F.col("ne").alias("pe"),
                    (F.col("h") + (F.col("ne") - F.col("pe")) / F.lit(float(t))).alias(
                        "h"
                    ),
                    (F.col("s") + (F.col("ne") - F.col("pe")) * F.lit(float(t))).alias(
                        "s"
                    ),
                    F.when(F.col("ne") > F.col("pe"), F.lit(t).cast("int"))
                    .otherwise(F.col("ecc"))
                    .alias("ecc"),
                )
            )
        return state.select(
            "id",
            F.round("h", 6).alias("harmonic"),
            F.when(
                F.col("s") > 0.0,
                F.round((F.col("pe") - F.lit(1.0)) / F.col("s"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("closeness"),
            F.col("ecc").alias("eccentricity"),
        ).localCheckpoint(eager=True)


def hyperball_harmonic(
    edges: DataFrame,
    max_t: int = 6,
    registers: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[id, harmonic] — see :func:`_hyperball_centralities`."""
    return _hyperball_centralities(
        edges, max_t=max_t, registers=registers, num_partitions=num_partitions
    ).select("id", "harmonic")


def hyperball_closeness(
    edges: DataFrame,
    max_t: int = 6,
    registers: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[id, closeness] — see :func:`_hyperball_centralities`."""
    return _hyperball_centralities(
        edges, max_t=max_t, registers=registers, num_partitions=num_partitions
    ).select("id", "closeness")


def hyperball_eccentricity(
    edges: DataFrame,
    max_t: int = 6,
    registers: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[id, eccentricity] — the last round t ≤ max_t at which
    v's estimated ball still grew: a sketch lower bound on out-
    eccentricity, capped at max_t (the double-sweep approx_diameter's
    per-node generalization). INTEGER output — a float comparison decides
    the branch, but both engines evaluate the identical chain, and the
    recorded value is the round index."""
    return _hyperball_centralities(
        edges, max_t=max_t, registers=registers, num_partitions=num_partitions
    ).select("id", "eccentricity")


def average_distance(
    edges: DataFrame,
    max_t: int = 6,
    registers: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """1-row DataFrame[avg_distance] — the ANF mean-distance estimate
    (Palmer, Gibbons & Faloutsos 2002 §4: "the average distance"):

        Σ_t t · (N̂(t) − N̂(t−1)) / (N̂(max_t) − N̂(0))

    computed from the SAME 6-dp-rounded per-hop reach estimates the
    neighborhood-function gate emits, so the compose is engine-exact.
    Pure composition — the sketch fixpoint does all the distributed work;
    this adds one lag-window over a (max_t+1)-row frame."""
    from pyspark.sql import Window

    nf = neighborhood_function(
        edges, max_t=max_t, registers=registers, num_partitions=num_partitions
    )
    w = Window.orderBy("t")
    gains = nf.select(
        "t", (F.col("avg_reach") - F.lag("avg_reach").over(w)).alias("gain")
    ).filter(F.col("t") >= 1)
    return gains.agg(
        F.round(
            F.sum(F.col("t").cast("double") * F.col("gain")) / F.sum("gain"), 6
        ).alias("avg_distance")
    )
