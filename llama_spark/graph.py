"""Canonical edge-table helpers — the engine's data model.

LLAMA's store is a multi-level CSR over dense node ids
(ll_mlcsr_sp.h:97-176, ll_common.h:109-111). The Spark-native data model is
the **edge table**: ``DataFrame[src: long, dst: long (, weight: double)]``.
Reverse adjacency is just column swap (no in-CSR/edge-translation analog
needed, ll_mlcsr_graph.h:704-706); degrees are a materialized DataFrame
(LL_PRECOMPUTED_DEGREE, ll_mlcsr_sp.h:1900-1963); loader edge transforms
(dedup / undirected doubling / undirected ordering) mirror
ll_load_utils.h:399-433.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SRC, DST = "src", "dst"

# The engine's one join-side policy — LLAMA's size-switched frontier
# (adaptive BFS, ll_bfs_template.h:170-292) mapped to Spark: broadcast
# iteration state while it is small, else hint shuffle-hash so the cached
# edge table streams instead of being sorted. The broadcast build is
# driver-serial (measured: a 550k-row state took 25.8s broadcast vs 11.9s
# shuffle-hash over 3 betweenness iterations). Edge-sized side tables
# (truss, triads) use the larger edge bound. Both are read as module
# globals at call time, so tests can lower them to force the shuffle side.
BROADCAST_MAX_ROWS = 100_000
EDGE_BROADCAST_MAX_ROWS = 2_000_000


def is_small(rows: int) -> bool:
    """True while ``rows`` of iteration state are cheap enough to broadcast."""
    return rows <= BROADCAST_MAX_ROWS


def join_side(df: DataFrame, rows: int) -> DataFrame:
    """Build side of a state join: broadcast while ``is_small(rows)``,
    otherwise a shuffle-hash hint so the other (edge) side streams."""
    return F.broadcast(df) if is_small(rows) else df.hint("shuffle_hash")


def nodes_of(edges: DataFrame) -> DataFrame:
    """Distinct node ids appearing as src or dst → DataFrame[id: long].

    LLAMA's node space is dense [0, max_nodes) (ll_mlcsr_sp.h:587-589); we
    accept arbitrary longs — density is only an id-dictionary concern.
    """
    return (
        edges.select(F.col(SRC).alias("id"))
        .unionAll(edges.select(F.col(DST).alias("id")))
        .distinct()
    )


def deduplicate(edges: DataFrame) -> DataFrame:
    """Drop duplicate (src, dst) pairs — lc_deduplicate (ll_load_utils.h:399-505)."""
    return edges.dropDuplicates([SRC, DST])


def drop_self_loops(edges: DataFrame) -> DataFrame:
    return edges.filter(F.col(SRC) != F.col(DST))


def undirected_double(edges: DataFrame) -> DataFrame:
    """-U load mode: every edge stored in both directions (ll_load_utils.h:427-433)."""
    swapped = edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    return edges.select(SRC, DST).unionAll(swapped)


def undirected_ordered(edges: DataFrame) -> DataFrame:
    """-OD load mode: each edge once with src<dst (ll_load_utils.h:410-414)."""
    return edges.select(
        F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST)
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected neighbor view for CC / label propagation: both directions,
    deduped, self-loops removed."""
    return drop_self_loops(deduplicate(undirected_double(edges.select(SRC, DST))))


def out_degrees(edges: DataFrame) -> DataFrame:
    """DataFrame[id, out_degree] — degree of absent node is 0 by convention
    (ll_mlcsr_sp.h:1956-1963): consumers LEFT-join and coalesce to 0."""
    return edges.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("out_degree"))


def in_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col(DST).alias("id")).agg(F.count("*").alias("in_degree"))


def degrees(edges: DataFrame) -> DataFrame:
    """DataFrame[id, out_degree, in_degree] with 0 fill, all nodes present."""
    return (
        nodes_of(edges)
        .join(out_degrees(edges), "id", "left")
        .join(in_degrees(edges), "id", "left")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
        )
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """log2-bucket histogram of out-degrees + degree mass per bucket
    (tools/degree_distribution.h:56-145). Bucket = floor(log2(degree)).

    Doubles as the skew detector: a heavy top bucket ⇒ hub salting needed.
    """
    deg = out_degrees(edges)
    return (
        deg.withColumn("bucket", F.floor(F.log2(F.col("out_degree"))).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("out_degree").alias("degree_mass"),
        )
        .orderBy("bucket")
    )


def edge_prop_stats(edges: DataFrame, prop: str = "weight") -> DataFrame:
    """min/max/sum/count/mean of an edge property (tools/property_stats.h:94-140)."""
    return edges.agg(
        F.min(prop).alias("min_v"),
        F.max(prop).alias("max_v"),
        F.sum(prop).alias("sum_v"),
        F.count(prop).alias("count_v"),
        F.avg(prop).alias("avg_v"),
    )


def assortativity(edges: DataFrame) -> DataFrame:
    """One row [assortativity: double, reciprocity: double] — the two
    classic link-graph mixing statistics (Newman 2002; web graphs are
    famously DISassortative, r < 0, and low-reciprocity).

    - degree assortativity: Pearson correlation of the undirected degrees
      at the two ends of every undirected edge. Over the symmetrized
      double view the two end-distributions are identical, so Newman's
      formula collapses to ``r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²)`` —
      every sum an exact BIGINT (one aggregate over E rows), a single
      float division at the end, bit-identical in any engine.
    - reciprocity: |{(u,v) : v→u also exists}| / |E| over the directed
      deduped view — one self-semi-join on the swapped key.

    Both are single-pass aggregates; at 100 TB each is one E-row shuffle
    (the degree groupBy / the swapped join), no iteration.
    """
    und = symmetrize(edges)
    deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("d"))
    # V-row degree table hinted shuffle-hash: the E-row und side streams
    # through both end-tagging joins instead of being sorted (plan audit)
    ends = (
        und.join(deg.withColumnRenamed("id", SRC).hint("shuffle_hash"), SRC)
        .withColumnRenamed("d", "j")
        .join(
            deg.select(F.col("id").alias(DST), F.col("d").alias("k")).hint(
                "shuffle_hash"
            ),
            DST,
        )
    )
    s = ends.agg(
        F.count("*").alias("m"),
        F.sum("j").alias("sj"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum(F.col("j") * F.col("j")).alias("sjj"),
    )
    d = drop_self_loops(deduplicate(edges.select(SRC, DST)))
    rec = d.join(
        d.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)),
        [SRC, DST],
        "left_semi",
    ).agg(F.count("*").alias("rm"))
    tot = d.agg(F.count("*").alias("te"))
    return (
        s.crossJoin(rec)
        .crossJoin(tot)
        .select(
            F.round(
                (F.col("m") * F.col("sjk") - F.col("sj") * F.col("sj")).cast(
                    "double"
                )
                / (F.col("m") * F.col("sjj") - F.col("sj") * F.col("sj")),
                6,
            ).alias("assortativity"),
            F.round(F.col("rm").cast("double") / F.col("te"), 6).alias(
                "reciprocity"
            ),
        )
    )


def find_edge(edges: DataFrame, u: int, v: int) -> DataFrame:
    """Point lookup find(u,v) (ll_mlcsr_sp.h:2334-2370)."""
    return edges.filter((F.col(SRC) == u) & (F.col(DST) == v))


def with_synthetic_weights(edges: DataFrame) -> DataFrame:
    """Deterministic edge weights 1 + ((src*31 + dst) % 100)/100 — the
    portable analog of the loader's "weight" property
    (ll_load_utils.h:1076-1090); identical formula used by the DuckDB oracle.
    """
    return edges.withColumn(
        "weight",
        (
            F.lit(1.0)
            + F.pmod(F.col(SRC) * F.lit(31) + F.col(DST), F.lit(100)).cast("double")
            / F.lit(100.0)
        ),
    )


def materialize(df: DataFrame, observed: bool = False) -> DataFrame:
    """Truncate plan lineage AND reset size statistics — the round-state
    materializer for kernels that SELF-JOIN their evolving state.

    ``localCheckpoint`` alone truncates the logical plan to a leaf but
    carries the child plan's estimated ``sizeInBytes`` into it. A join's
    size estimate is the *product* of its inputs, so a kernel that joins
    round state with itself (pointer doubling, Luby neighbor-min, triangle
    support) squares that BigInt every round — its bit-length doubles, and
    from ~15 self-referential rounds the driver burns seconds-to-minutes
    per round in BigInteger multiplications inside join planning
    (measured: round cost 0.3s -> 21s between rounds 15 and 23 on a
    100-row table). Caching the checkpointed leaf and materializing it
    replaces the estimate with the real cached size (InMemoryRelation
    stats), so every round restarts from ~10 bits. One job total: the
    ``count`` materializes checkpoint blocks and cache together.

    Kernels that only join evolving state against a FIXED table (pagerank,
    CC, BFS) add bits instead of doubling them — harmless for any
    realistic round count; they keep plain ``localCheckpoint``.

    The caller should ``.unpersist()`` the previous round's frame once the
    next one is materialized (the blocks are per-round state, not shared).

    ``observed=True`` is REQUIRED when ``observe()`` metrics ride on
    ``df``: observation metrics are published when the checkpoint's
    internal action completes, and a lazy checkpoint publishes them
    immediately with ZERO rows seen — every observation-driven
    convergence loop would exit on round one. Eager + count is two jobs
    (the count only reads checkpoint blocks); the unobserved path folds
    checkpoint and cache materialization into the single count job.
    """
    if not observed:
        return materialize_counted(df)[0]
    out = df.localCheckpoint(eager=True).persist()
    out.count()
    return out


def materialize_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``materialize`` that also returns the row count of the single
    materialization job. Fixpoint kernels that drive convergence or
    join-side policy off the live-set size otherwise pay a second count
    job per round for a number the materialization job already computed."""
    out = df.localCheckpoint(eager=False).persist()
    n = out.count()
    return out, n


def rich_club(edges: DataFrame, ks: tuple[int, ...] = (1, 2, 4, 8, 16, 32)) -> DataFrame:
    """DataFrame[k, n_rich, e_rich, phi] — the rich-club coefficient
    φ(k) = 2·E_k / (N_k·(N_k−1)) over the simple undirected graph, where
    N_k = #nodes with degree > k and E_k = #edges between them (Zhou &
    Mondragón 2004; the standard hub-interconnection statistic for web
    graphs). One conditional-aggregate pass over the edge list (tagged
    with both endpoint degrees) + one over the degree table — no per-k
    scans, no pair materialization; exact integers with a single rounded
    division per row."""
    und = drop_self_loops(undirected_ordered(edges)).dropDuplicates([SRC, DST])
    deg = (
        und.select(F.col(SRC).alias("id"))
        .unionAll(und.select(F.col(DST).alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("id").alias(SRC), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias(DST), F.col("d").alias("db"))
    tagged = und.join(da, SRC).join(db, DST).select(
        F.least("da", "db").alias("min_d")
    )
    e_aggs = tagged.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("min_d") > k, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias(f"e{k}")
            for k in ks
        ]
    )
    n_aggs = deg.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("d") > k, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias(f"n{k}")
            for k in ks
        ]
    )
    rows = e_aggs.crossJoin(n_aggs).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        F.col(f"n{k}").alias("n_rich"),
                        F.col(f"e{k}").alias("e_rich"),
                        F.when(
                            F.col(f"n{k}") >= 2,
                            F.round(
                                F.lit(2.0)
                                * F.col(f"e{k}")
                                / (F.col(f"n{k}") * (F.col(f"n{k}") - F.lit(1))),
                                6,
                            ),
                        )
                        .otherwise(F.lit(0.0))
                        .alias("phi"),
                    )
                    for k in ks
                ]
            )
        ).alias("r")
    ).select("r.k", "r.n_rich", "r.e_rich", "r.phi")
    return rows


def degree_powerlaw(edges: DataFrame, d_min: int = 4) -> DataFrame:
    """ONE row [d_min, n_tail, alpha] — the Hill maximum-likelihood
    estimate of the power-law exponent of the undirected degree tail
    (Clauset/Shalizi/Newman 2009 eq. 3.1, continuous approximation):

        α = 1 + n / Σ_{d_i ≥ d_min} ln(d_i / d_min)

    the standard scale-free diagnostic for web link graphs (reference
    context: LLAMA's degree tooling stops at the histogram,
    tools/degree_distribution; this is the model fit ON that histogram).

    Plan: the degree aggregate collapses to the DISTINCT-degree histogram
    first (≤ max-degree rows — hundreds, not |V|), so the float ln enters
    once per distinct degree, weighted by an exact BIGINT count.
    α is NULL when every tail degree equals d_min (zero log-mass).
    """
    und = drop_self_loops(undirected_ordered(edges)).dropDuplicates([SRC, DST])
    deg = (
        und.select(F.col(SRC).alias("id"))
        .unionAll(und.select(F.col(DST).alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    hist = (
        deg.filter(F.col("d") >= d_min)
        .groupBy("d")
        .agg(F.count("*").alias("c"))
    )
    return (
        hist.agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("_n"),
            F.sum(
                F.col("c")
                * F.log(F.col("d").cast("double") / F.lit(float(d_min)))
            ).alias("_lm"),
        )
        .select(
            F.lit(d_min).cast("long").alias("d_min"),
            F.col("_n").alias("n_tail"),
            F.round(
                F.when(
                    F.col("_lm") > 0.0,
                    F.lit(1.0) + F.col("_n").cast("double") / F.col("_lm"),
                ),
                6,
            ).alias("alpha"),
        )
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """1-row DataFrame[n_directed, n_mutual, reciprocity] — the fraction
    of directed (deduped, self-loop-free) edges whose reverse edge also
    exists. The standard directed-link-structure statistic for web graphs
    (Newman; ~25% of WWW links are reciprocal): one semi-join of the
    simple directed edge set against its transpose, exact integers plus
    one rounded division."""
    e = deduplicate(drop_self_loops(edges.select(SRC, DST)))
    rev = e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    n = e.agg(F.count("*").cast("long").alias("n_directed"))
    m = e.join(rev, [SRC, DST], "left_semi").agg(
        F.count("*").cast("long").alias("n_mutual")
    )
    return n.crossJoin(F.broadcast(m)).select(
        "n_directed",
        "n_mutual",
        F.when(
            F.col("n_directed") > 0,
            F.round(F.col("n_mutual") / F.col("n_directed"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("reciprocity"),
    )


def avg_neighbor_degree(edges: DataFrame) -> DataFrame:
    """knn(k) — the degree-correlation function (Pastor-Satorras, Vázquez
    & Vespignani 2001): for each undirected-degree class k, the mean over
    nodes of degree k of their neighbors' mean degree. THE standard
    web-graph mixing curve (a falling knn(k) is the disassortativity the
    one-number ``assortativity`` r < 0 summarizes).

    DataFrame[k, n_nodes, knn] — knn rounded to 6 dp. Per-node neighbor
    means are exact rationals (BIGINT sum / count) rounded to 6 dp then
    carried as micro-unit BIGINTs, so the per-class mean is one exact
    integer sum and ONE float division — engine-order-proof (the
    neighbor_features precedent).

    Scale: two E-row joins against the V-row degree table (shuffle-hash —
    the E side streams), two map-side-combinable aggregates; the output
    is ≤ max-degree rows. No windows."""
    und = symmetrize(edges)
    deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("d"))
    ends = und.join(
        deg.select(F.col("id").alias(DST), F.col("d").alias("dk")).hint(
            "shuffle_hash"
        ),
        DST,
    )
    per_node = ends.groupBy(SRC).agg(
        F.sum("dk").alias("s"), F.count("*").alias("c")
    )
    micro = per_node.select(
        F.col(SRC).alias("id"),
        F.col("c").alias("k"),  # c == undirected degree of the node
        F.round(F.round(F.col("s") / F.col("c"), 6) * 1000000.0)
        .cast("long")
        .alias("knn_micro"),
    )
    return (
        micro.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("knn_micro").alias("_s"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            "n_nodes",
            F.round(
                (F.col("_s") / F.col("n_nodes").cast("double")) / 1000000.0, 6
            ).alias("knn"),
        )
    )


def attribute_assortativity(edges: DataFrame, classes: int = 8) -> DataFrame:
    """Categorical attribute assortativity (Newman, PRE 67 2003, eq. 2)
    for the synthetic node class c(v) = v mod ``classes`` (the same
    id-derived attribute convention as avg_teen_cnt's age):

        r = (T·S1 − S2) / (T² − S2)

    over the symmetrized edge-end class matrix N_ij, with T = ΣN (2·E
    ends), S1 = Σ N_ii (same-class ends), S2 = Σ_i (row_i)². r = 1 is
    perfect class mixing, 0 is random, negative is disassortative.
    One row [n_classes, t_ends, r]. All three sums are exact BIGINTs from
    ONE map-side-combinable (c_src, c_dst) rollup (≤ classes² rows); the
    final expression runs in doubles (T² would overflow BIGINT at 10¹²
    edges) — identical literals in the SQL mirror."""
    und = symmetrize(edges)
    nm = und.select(
        (F.col(SRC) % classes).alias("ci"), (F.col(DST) % classes).alias("cj")
    ).groupBy("ci", "cj").agg(F.count("*").alias("n"))
    t = nm.agg(F.sum("n").alias("t"))
    s1 = nm.filter(F.col("ci") == F.col("cj")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("s1")
    )
    rows = nm.groupBy("ci").agg(F.sum("n").alias("rs"))
    s2 = rows.agg(F.sum(F.col("rs") * F.col("rs")).alias("s2"))
    return (
        t.crossJoin(s1)
        .crossJoin(s2)
        .select(
            F.lit(int(classes)).cast("long").alias("n_classes"),
            F.col("t").cast("long").alias("t_ends"),
            F.round(
                (F.col("t").cast("double") * F.col("s1") - F.col("s2"))
                / (F.col("t").cast("double") * F.col("t") - F.col("s2")),
                6,
            ).alias("r"),
        )
    )


def relabel_by_degree(edges: DataFrame, buckets: int = 256) -> DataFrame:
    """Degree-descending id relabeling — DataFrame[id, new_id] with
    new_id = dense rank 0..V−1 by (undirected degree DESC, id ASC). The
    classic web-graph locality prestep (WebGraph/BV compression, gap
    encoding, cache-friendly CSR): hubs get the small ids.

    Scale shape — the third user of the repo's TWO-PHASE ranking pattern
    (walks indexing, configuration_model): the global order (d DESC,
    id ASC) is split into (d, id-range bucket) cells; a window ranks
    WITHIN each cell only (≤ V/buckets rows of one degree class), and
    cell offsets come from a cumsum over the ≤ #degrees·buckets cell
    census — no single-task sort ever sees the V-row table."""
    from pyspark.sql import Window

    und = symmetrize(edges)
    deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("d"))
    nodes = nodes_of(edges).join(deg, "id", "left").select(
        "id", F.coalesce("d", F.lit(0)).alias("d")
    )
    maxid = nodes.agg(F.max("id").alias("m"))
    keyed = nodes.crossJoin(F.broadcast(maxid)).select(
        "id", "d", F.expr(f"id DIV ((m DIV {buckets}) + 1)").alias("bkt")
    )
    w_in = Window.partitionBy("d", "bkt").orderBy("id")
    ranked = keyed.withColumn("rn", F.row_number().over(w_in))
    cells = keyed.groupBy("d", "bkt").agg(F.count("*").alias("c"))
    w_off = Window.orderBy(F.desc("d"), F.asc("bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = cells.select(
        "d", "bkt", F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off")
    )
    return ranked.join(offs, ["d", "bkt"]).select(
        "id", (F.col("off") + F.col("rn") - 1).cast("long").alias("new_id")
    )


def degree_gini(edges: DataFrame) -> DataFrame:
    """1-row DataFrame[n_nodes, total_degree, gini] — Gini coefficient of
    the undirected degree distribution, the single-number inequality/skew
    summary next to the log2 histogram above (G≈0 regular graph, G→1 a
    few hubs own the edges — the salting-needed signal quantified).

    Scale shape: G = (2·Σᵢ i·d₍ᵢ₎)/(n·Σd) − (n+1)/n needs the degrees in
    ascending order, but ties make any within-block order equivalent, so
    the global sort collapses to a DISTINCT-DEGREE histogram: a tie block
    of c nodes at degree d spanning ranks (s, s+c] contributes
    d·(c·s + c(c+1)/2). The window below runs over ≤ max-degree rows
    (same bounded-window argument as the coreness h-index), never |V|.
    """
    from pyspark.sql import Window

    und = drop_self_loops(undirected_double(edges)).distinct()
    deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("deg"))
    hist = deg.groupBy("deg").agg(F.count("*").alias("c"))
    w = Window.orderBy("deg").rowsBetween(Window.unboundedPreceding, -1)
    blocks = hist.select(
        "deg",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("s"),
    )
    return blocks.agg(
        F.sum("c").cast("long").alias("n_nodes"),
        F.sum(F.col("deg") * F.col("c")).cast("long").alias("total_degree"),
        F.round(
            F.lit(2.0)
            * F.sum(
                F.col("deg")
                * (F.col("c") * F.col("s") + F.col("c") * (F.col("c") + 1) / F.lit(2.0))
            )
            / (F.sum("c") * F.sum(F.col("deg") * F.col("c")))
            - (F.sum("c") + F.lit(1.0)) / F.sum("c"),
            6,
        ).alias("gini"),
    )


def joint_degree_matrix(edges: DataFrame) -> DataFrame:
    """dK-2 joint degree matrix → DataFrame[deg_lo, deg_hi, n_edges].

    Published frame: Mahadevan, Krioukov, Fall & Vahdat, "Systematic
    Topology Analysis and Generation Using Degree Correlations"
    (SIGCOMM 2006) — the dK-2 statistic: for every undirected edge, the
    (sorted) pair of endpoint degrees; the histogram over those pairs is
    the degree-correlation profile that dK-random graph generators
    preserve (one level finer than assortativity's single scalar, one
    coarser than the full graph).

    Spark plan: two broadcast-or-shuffle joins of the edge list against
    the V-row degree table + one groupBy — the assortativity plan with a
    histogram instead of a covariance on top.
    """
    und = undirected_ordered(drop_self_loops(edges.select(SRC, DST))).dropDuplicates(
        [SRC, DST]
    )
    adj = und.union(und.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
    deg = adj.groupBy(F.col(SRC).alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    da, db = deg.alias("da"), deg.alias("db")
    return (
        und.join(da, und[SRC] == F.col("da.id"))
        .join(db, und[DST] == F.col("db.id"))
        .select(
            F.least(F.col("da.deg"), F.col("db.deg")).alias("deg_lo"),
            F.greatest(F.col("da.deg"), F.col("db.deg")).alias("deg_hi"),
        )
        .groupBy("deg_lo", "deg_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )


def clustering_by_degree(edges: DataFrame) -> DataFrame:
    """c(k) curve → DataFrame[degree, n_nodes, avg_coefficient].

    Published frame: Ravasz & Barabási, "Hierarchical organization in
    complex networks" (PRE 2003) — c(k) ~ k^(-1) is the signature of
    hierarchical modularity; flat c(k) means no hierarchy. The curve is
    the mean local clustering coefficient over all vertices of degree k.

    Spark plan: the audited degree-oriented triangle kernel's per-node
    counts + the V-row degree table, one groupBy(degree) on top; the
    per-node coefficient is rounded to 6 dp FIRST (matching the gated
    local_clustering values exactly) and the degree-class mean again to
    6 dp.
    """
    from .operators.linkpred import local_clustering

    return (
        local_clustering(edges)
        .groupBy("degree")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.round(F.avg("coefficient"), 6).alias("avg_coefficient"),
        )
    )


def powerlaw_ks(edges: DataFrame, d_min: int = 4) -> DataFrame:
    """One row [d_min, n_tail, alpha, ks] — Kolmogorov-Smirnov
    goodness-of-fit distance of the Hill power-law fit to the undirected
    degree tail.

    Published frame: Clauset, Shalizi & Newman, "Power-law distributions
    in empirical data" (SIAM Rev. 2009) §3.3 — after fitting α by maximum
    likelihood (the gated degree_powerlaw Hill estimator, continuous
    approximation), the fit quality is the KS distance

        D = max_{d ≥ d_min} | S(d) − P(d) |,   P(d) = (d/d_min)^(1−α)

    between the empirical tail CCDF S and the fitted CCDF P. The famous
    practical upshot: many claimed power laws fail exactly this test.

    Spark plan: degrees collapse to the distinct-degree histogram
    (≤ max-degree rows), the CCDF is one cumulative window over that
    tiny frame, and α enters via the same Σ c·ln(d/d_min) aggregate as
    degree_powerlaw — floats only after exact-BIGINT aggregation.
    """
    from pyspark.sql import Window

    und = undirected_ordered(drop_self_loops(edges.select(SRC, DST))).dropDuplicates(
        [SRC, DST]
    )
    deg = (
        und.select(F.col(SRC).alias("id"))
        .unionAll(und.select(F.col(DST).alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    hist = deg.filter(F.col("d") >= d_min).groupBy("d").agg(
        F.count("*").alias("c")
    )
    tot = hist.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_tail"),
        F.sum(F.col("c") * F.log(F.col("d") / F.lit(float(d_min)))).alias("lg"),
    )
    w = Window.orderBy(F.col("d").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ccdf = hist.select(
        "d", F.sum("c").over(w).alias("cum")
    )
    # lg = 0 (every tail degree equals d_min) leaves the MLE undefined:
    # alpha and ks go NULL, matching the degree_powerlaw convention
    alpha = F.when(
        F.col("lg") != 0.0, F.lit(1.0) + F.col("n_tail") / F.col("lg")
    )
    return (
        ccdf.crossJoin(F.broadcast(tot))
        .select(
            "d",
            alpha.alias("alpha"),
            F.abs(
                F.col("cum") / F.col("n_tail")
                - F.pow(
                    F.col("d") / F.lit(float(d_min)),
                    F.lit(1.0) - alpha,
                )
            ).alias("dev"),
            "n_tail",
        )
        .agg(
            F.first(F.lit(d_min)).cast("long").alias("d_min"),
            F.first("n_tail").alias("n_tail"),
            F.round(F.first("alpha"), 6).alias("alpha"),
            F.round(F.max("dev"), 6).alias("ks"),
        )
    )


def directed_assortativity(edges: DataFrame) -> DataFrame:
    """Four directed degree-correlation coefficients →
    DataFrame[mode, r] with mode ∈ {'in-in','in-out','out-in','out-out'}.

    Published frame: Foster, Foster, Grassberger & Paczuski, "Edge
    direction and the structure of networks" (PNAS 2010) — the four
    Pearson correlations r_{αβ}, α,β ∈ {in,out}, between deg_α(src) and
    deg_β(dst) over directed edges. The und scalar (the gated
    ``assortativity``) collapses exactly this profile; web graphs
    famously differ across the four modes.

    Spark plan: one degrees join per endpoint (V-row table, both joins
    shuffle-hash so the E-row edge list streams), then four exact-BIGINT
    moment aggregates in ONE pass (no per-mode re-scan); one float
    division per mode at the end, 6 dp.

        r = (M·Σxy − Σx·Σy) / √(M·Σx² − (Σx)²) / √(M·Σy² − (Σy)²)
    """
    e = drop_self_loops(deduplicate(edges.select(SRC, DST)))
    dg = degrees(e)
    src_d = dg.select(
        F.col("id").alias(SRC),
        F.col("in_degree").alias("si"),
        F.col("out_degree").alias("so"),
    )
    dst_d = dg.select(
        F.col("id").alias(DST),
        F.col("in_degree").alias("di"),
        F.col("out_degree").alias("do"),
    )
    ends = e.join(src_d.hint("shuffle_hash"), SRC).join(
        dst_d.hint("shuffle_hash"), DST
    )
    aggs = [F.count(F.lit(1)).alias("m")]
    for c in ("si", "so", "di", "do"):
        aggs.append(F.sum(c).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"q_{c}"))
    for a in ("si", "so"):
        for b in ("di", "do"):
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"p_{a}{b}"))
    s = ends.agg(*aggs)

    def r(a: str, b: str):
        num = (F.col("m") * F.col(f"p_{a}{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast(
            "double"
        )
        va = (F.col("m") * F.col(f"q_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast(
            "double"
        )
        vb = (F.col("m") * F.col(f"q_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast(
            "double"
        )
        return F.when(
            (va > 0) & (vb > 0), F.round(num / F.sqrt(va) / F.sqrt(vb), 6)
        )

    rows = [
        ("in-in", "si", "di"),
        ("in-out", "si", "do"),
        ("out-in", "so", "di"),
        ("out-out", "so", "do"),
    ]
    # one explode over the single 1-row aggregate — a unionAll of four
    # selects would re-run the E-row moment pass per mode
    structs = [
        F.struct(F.lit(name).alias("mode"), r(a, b).alias("r"))
        for name, a, b in rows
    ]
    return s.select(F.explode(F.array(*structs)).alias("x")).select(
        "x.mode", "x.r"
    )
