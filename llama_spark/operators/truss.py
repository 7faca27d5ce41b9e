"""k-truss decomposition — iterative triangle-support peeling.

Same fixpoint family as k-core (kcore.py) one level up the subgraph
hierarchy: the k-truss is the maximal subgraph in which every edge closes
at least k-2 triangles *within the subgraph*. Peeling: repeatedly drop
edges whose in-subgraph support < k-2 until none change — the community-
core detector of choice on link graphs (denser than k-core, cheaper than
clique mining).

Spark plan per round over the canonical oriented edge set (u < v,
deduped, self-loop-free — triangles.py's orientation trick):
    tri   = e(u,v) ⨝ e(v,w) ⨝ e(u,w)          (each triangle found once)
    supp  = explode each triangle into its 3 edges → groupBy count
    e'    = e ⨝ supp WHERE support ≥ k-2       (no supp row ⇒ support 0)
The edge set only shrinks, so per-round cost is monotone non-increasing;
each round truncates lineage with an eager checkpoint. ``rounds`` forces
the fixed-round SQL-portable mode (like k_core/coreness); ``rounds=None``
peels to convergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .. import graph
from ..graph import DST, SRC


def _canonical(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST)
        )
        .filter(F.col(SRC) != F.col(DST))
        .distinct()
    )


def edge_support(e: DataFrame) -> DataFrame:
    """DataFrame[src, dst, support] over a canonical oriented edge set —
    number of triangles each edge closes (edges in no triangle absent)."""
    a, b, c = e.alias("a"), e.alias("b"), e.alias("c")
    tri = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .join(
            c,
            (F.col("c.src") == F.col("a.src")) & (F.col("c.dst") == F.col("b.dst")),
        )
        .select(
            F.col("a.src").alias("u"), F.col("a.dst").alias("v"), F.col("b.dst").alias("w")
        )
    )
    # ONE pass over the triangle join: explode each triangle into its 3
    # sides (a unionAll of three projections would re-plan the whole
    # e⨝e⨝e subtree per branch — measured 14 exchanges/round vs 6 here)
    sides = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias(SRC), F.col("v").alias(DST)),
                F.struct(F.col("v").alias(SRC), F.col("w").alias(DST)),
                F.struct(F.col("u").alias(SRC), F.col("w").alias(DST)),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return sides.groupBy(SRC, DST).agg(F.count("*").alias("support"))


def k_truss(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """DataFrame[src, dst] (src < dst) — the k-truss of the undirected,
    deduped view of ``edges``."""
    if k < 3:
        raise ValueError("k-truss is defined for k >= 3")
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # persist (not localCheckpoint) keeps the hash(src) layout so the
    # triangle join's b-side needs no exchange each round (localCheckpoint
    # drops partitioning in this build — see plans/fixpoint.py); lineage is
    # truncated with a localCheckpoint every 4th peel
    e = _canonical(edges).repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    m = e.count()
    e_persisted = True

    limit = rounds if rounds is not None else max_iter
    for _i in range(limit):
        if m == 0:
            break
        supp = edge_support(e)
        kept = (
            e.join(supp, [SRC, DST], "left")
            .filter(F.coalesce("support", F.lit(0)) >= k - 2)
            .select(SRC, DST)
        )
        if _i % 4 == 3:
            kept = kept.localCheckpoint(eager=True)
            kept_persisted = False
        else:
            kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
            kept_persisted = True
        m2 = kept.count()
        if m2 == m:
            if kept_persisted:
                kept.unpersist()
            break  # fixpoint — remaining unrolled rounds are no-ops too
        if e_persisted:
            e.unpersist()
        e, m, e_persisted = kept, m2, kept_persisted

    if e_persisted:
        # hand back a checkpointed frame, never a live CacheManager entry
        out = e.localCheckpoint(eager=True)
        e.unpersist()
        return out
    return e


def trussness(
    edges: DataFrame,
    rounds: int | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """DataFrame[src, dst, trussness] (src < dst) — the FULL truss
    decomposition: for every edge, the maximum k such that the edge
    survives in the k-truss. The edge-level sibling of ``coreness`` and
    the converged form of ``k_truss``'s single level.

    Local h-index fixpoint (Sariyüce/Seshadhri/Pinar 2017 local truss
    decomposition; the same monotone-descent family as Lü et al.'s
    coreness iteration): t₀(e) = support(e); each round, every triangle
    {e,f,g} offers e the level min(t(f), t(g)), and

        t_{r+1}(e) = min(t_r(e), H({level of each triangle on e}))

    which descends exactly to trussness(e) − 2; edges on no triangle stay
    at 0. All integers — the DuckDB oracle unrolls identical rounds.

    Scale shape per round: the triangle table (u,v,w) is enumerated ONCE
    with the oriented skew-safe join and persisted; each round joins the
    current E-row value vector to its three sides (three hash joins of
    the T-row table), explodes each triangle into its 3 (edge, level)
    offers, and h-indexes them. On the small (broadcast-policy) path the
    h-index folds a per-edge sorted level array in ONE exchange; on the
    big-state path it uses the coreness window trick — the window holds
    at most |distinct levels on e| ≤ support(e) rows AFTER a
    (edge, level) pre-combine, so a 10⁶-triangle edge collapses to its
    level histogram before anything sorts (never materializing a hub
    edge's full offer list). 3T offer rows per round is the inherent
    cost of edge-local truss maintenance.
    """
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    from pyspark.sql import Window

    e = _canonical(edges).repartition(p, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    m_edges = e.count()
    # Broadcast the E-row value vector into the three per-round side joins
    # while it is genuinely small (the same join-side policy as the node
    # kernels' graph.join_side, scaled for edge rows): the persisted T-row
    # triangle table then streams through three broadcast hash joins with
    # ZERO exchanges — in shuffle mode each round paid three full
    # exchanges of the triangle table plus three of the value vector.
    # At web scale (E past the threshold) the shuffle path engages
    # unchanged.
    small_t = m_edges <= graph.EDGE_BROADCAST_MAX_ROWS

    def _side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_t else df

    a, b, c = e.alias("a"), e.alias("b"), e.alias("c")
    tri = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .join(
            c,
            (F.col("c.src") == F.col("a.src")) & (F.col("c.dst") == F.col("b.dst")),
        )
        .select(
            F.col("a.src").alias("u"),
            F.col("a.dst").alias("v"),
            F.col("b.dst").alias("w"),
        )
    )
    # On the broadcast path tri only ever STREAMS (it is the probe side of
    # every round join), so its partitioning is irrelevant — skip the
    # 3T-row repartition shuffle. On the shuffle path keep the hash(u)
    # layout so the side joins' exchanges line up round to round.
    if not small_t:
        tri = tri.repartition(p, "u")
    tri = tri.persist(StorageLevel.MEMORY_AND_DISK)
    n_tri = tri.count()

    supp = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias(SRC), F.col("v").alias(DST)),
                    F.struct(F.col("v").alias(SRC), F.col("w").alias(DST)),
                    F.struct(F.col("u").alias(SRC), F.col("w").alias(DST)),
                )
            ).alias("s")
        )
        .select("s.src", "s.dst")
        .groupBy(SRC, DST)
        .agg(F.count("*").alias("t"))
    )
    t = (
        e.join(supp, [SRC, DST], "left")
        .select(SRC, DST, F.coalesce("t", F.lit(0)).cast("long").alias("t"))
        .localCheckpoint(eager=True)
    )
    if n_tri == 0:
        e.unpersist()
        tri.unpersist()
        return t.select(SRC, DST, (F.col("t") + F.lit(2)).alias("trussness"))

    w = Window.partitionBy(SRC, DST).orderBy(F.desc("level"))
    limit = rounds if rounds is not None else max_iter
    prev_cached = None
    for _i in range(limit):
        t1 = t.select(F.col(SRC).alias("u"), F.col(DST).alias("v"), F.col("t").alias("_t1"))
        t2 = t.select(F.col(SRC).alias("v"), F.col(DST).alias("w"), F.col("t").alias("_t2"))
        t3 = t.select(F.col(SRC).alias("u"), F.col(DST).alias("w"), F.col("t").alias("_t3"))
        offers = (
            tri.join(_side(t1), ["u", "v"])
            .join(_side(t2), ["v", "w"])
            .join(_side(t3), ["u", "w"])
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("u").alias(SRC), F.col("v").alias(DST),
                            F.least("_t2", "_t3").alias("level"),
                        ),
                        F.struct(
                            F.col("v").alias(SRC), F.col("w").alias(DST),
                            F.least("_t1", "_t3").alias("level"),
                        ),
                        F.struct(
                            F.col("u").alias(SRC), F.col("w").alias(DST),
                            F.least("_t1", "_t2").alias("level"),
                        ),
                    )
                ).alias("o")
            )
            .select("o.src", "o.dst", "o.level")
        )
        if small_t:
            # single-shuffle h-index: collect the (small) per-edge level
            # list and fold h = max_i min(level_desc[i], i+1) in one
            # expression — one exchange per round instead of the
            # histogram+window pair (measured: 98 → 83 stages over the 4
            # oracle rounds, ~3s at sf0.1). Safe only while per-edge
            # support is bounded (broadcast-path graphs); the big-state
            # path keeps the histogram pre-combine so a 10⁶-triangle
            # edge never materializes its offer list.
            hi = (
                offers.groupBy(SRC, DST)
                .agg(F.reverse(F.array_sort(F.collect_list("level"))).alias("ls"))
                .select(
                    SRC,
                    DST,
                    F.aggregate(
                        F.zip_with(
                            "ls",
                            F.sequence(F.lit(1), F.size("ls")).cast("array<long>"),
                            lambda lv, i: F.least(lv, i),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: F.greatest(acc, x),
                    ).alias("h"),
                )
            )
        else:
            hi = (
                offers.groupBy(SRC, DST, "level")
                .agg(F.count("*").alias("cnt"))
                .withColumn("cum", F.sum("cnt").over(w))
                .groupBy(SRC, DST)
                .agg(F.max(F.least(F.col("level"), F.col("cum"))).alias("h"))
            )
        new_t = (
            t.join(_side(hi), [SRC, DST], "left")
            .select(
                SRC,
                DST,
                F.least(
                    F.col("t"), F.coalesce("h", F.col("t"))
                ).cast("long").alias("t"),
                (
                    F.coalesce("h", F.col("t")) < F.col("t")
                ).alias("_changed"),
            )
        )
        # State cadence: persist each round, TRUE-truncate with a
        # localCheckpoint every 4th. This build's localCheckpoint cuts
        # the SQL plan but recompute still chains through RDD lineage,
        # and each round references t THREE times — checkpoint-only
        # cadence therefore recomputes 3^r deep (measured: round walls
        # 5.6 → 10.2 → 29.5 → 120s on a 5.8k-edge graph). The persist
        # interleave bounds recompute depth at 4 rounds (measured flat
        # 1-2s rounds, 16-round convergence in ~50s on the same graph).
        if _i % 4 == 3:
            new_t = new_t.localCheckpoint(eager=True)
            held = None
        else:
            new_t = new_t.persist(StorageLevel.MEMORY_AND_DISK)
            held = new_t
        changed = int(
            new_t.agg(F.sum(F.col("_changed").cast("long"))).collect()[0][0] or 0
        )
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = held
        t = new_t.select(SRC, DST, "t")
        if changed == 0:
            break  # fixpoint — remaining unrolled rounds are no-ops too

    e.unpersist()
    tri.unpersist()
    if prev_cached is not None:
        # hand back a checkpointed frame, never a live CacheManager entry
        t = t.localCheckpoint(eager=True)
        prev_cached.unpersist()
    return t.select(SRC, DST, (F.col("t") + F.lit(2)).alias("trussness"))


def local_bridges(edges: DataFrame) -> DataFrame:
    """DataFrame[src, dst] — the LOCAL BRIDGES (Easley–Kleinberg §3.2):
    undirected edges whose endpoints share NO common neighbor, i.e.
    triangle support 0 — the weak ties that are the only short route
    between their neighborhoods (Granovetter's strength-of-weak-ties
    edges). Exactly the support-0 complement of the k-truss machinery:
    one canonical edge set, one support join, one null filter — the
    wedge join is the same skew-bounded plan k_truss already runs."""
    e = _canonical(edges)
    supp = edge_support(e)
    return (
        e.join(supp, [SRC, DST], "left")
        .filter(F.coalesce("support", F.lit(0)) == 0)
        .select(SRC, DST)
    )


def motif_adjacency(edges: DataFrame) -> DataFrame:
    """Triangle motif adjacency → symmetric DataFrame[src, dst, w].

    Published frame: Benson, Gleich & Leskovec, "Higher-order
    organization of complex networks" (Science 2016) — replace the plain
    adjacency with W_ij = #{motif instances containing edge (i,j)}
    (motif = triangle here), then any conductance machinery run on W
    optimizes MOTIF conductance instead of edge conductance. Edges in no
    triangle (w = 0) leave the motif graph — exactly the paper's
    restriction to the motif-connected part.

    Spark plan: the audited edge_support kernel (one canonical triangle
    join + a 3-side explode) symmetrized by projection — no extra
    shuffle beyond the support groupBy.
    """
    supp = edge_support(_canonical(edges))
    return supp.select(SRC, DST, F.col("support").alias("w")).unionAll(
        supp.select(
            F.col(DST).alias(SRC), F.col(SRC).alias(DST),
            F.col("support").alias("w"),
        )
    )
