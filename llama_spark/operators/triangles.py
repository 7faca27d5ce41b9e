"""Triangle counting — direction-ignored exact count.

Reference semantics: tc_i / tc_u / tc_od all count each undirected triangle
once via the u<v<w orientation over sorted adjacency
(benchmark/benchmarks/triangle_counting.h:155-336, 481-831; strictness
:104-120). The merge-vs-binary-search intersection heuristic
(``u_num < 32·v_num`` → merge, triangle_counting.h:531-567) is LLAMA's
hand-rolled join-strategy choice; in Spark that's Catalyst/AQE's job.

Spark plan: canonicalize to an oriented edge set, then the 2-path self-join

    wedges(a,b,c) = E(a,b) ⨝ E(b,c)      closed by ⨝ E(a,c)

**Degree orientation** (orient="degree") is the scale-critical trick: order
each undirected edge from the lower-(degree, id) endpoint to the higher one.
Every wedge is then built at its lowest-degree vertex, so a hub of degree D
generates O(D) oriented out-edges split across its *low-degree* neighbors
instead of O(D²) wedges at the hub — the standard mitigation for power-law
graphs (same effect LLAMA gets from its blocked intersection). Counts are
identical to id-orientation; the DuckDB oracle uses id-orientation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..graph import DST, SRC, drop_self_loops, undirected_ordered


def oriented_edges(edges: DataFrame, orient: str = "degree") -> DataFrame:
    """Each undirected edge exactly once, oriented low→high endpoint.

    orient="id": (least, greatest) — matches the oracle SQL literally.
    orient="degree": lower (undirected degree, id) first — skew-resistant.
    """
    und = drop_self_loops(undirected_ordered(edges)).dropDuplicates([SRC, DST])
    if orient == "id":
        return und
    deg = (
        und.select(F.col(SRC).alias("id"))
        .unionAll(und.select(F.col(DST).alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    u = und.join(da, und[SRC] == F.col("da.id")).join(db, und[DST] == F.col("db.id"))
    lo_first = (F.col("da.deg") < F.col("db.deg")) | (
        (F.col("da.deg") == F.col("db.deg")) & (und[SRC] < und[DST])
    )
    return u.select(
        F.when(lo_first, und[SRC]).otherwise(und[DST]).alias(SRC),
        F.when(lo_first, und[DST]).otherwise(und[SRC]).alias(DST),
    )


def triangle_count(edges: DataFrame, orient: str = "degree") -> int:
    return triangles_df(edges, orient=orient).collect()[0]["triangles"]


def _tri_intersections(e_oriented: DataFrame) -> DataFrame:
    """DataFrame[src, dst, ww] over an oriented edge set — for each
    oriented edge (u,v) the array ww = N⁺(u) ∩ N⁺(v) of third corners
    closing it (the reference's sorted-adjacency intersection,
    triangle_counting.h:531-567, as an array expression). Replaces the
    2-path self-join: no open-wedge rows ever materialize — the O(Σ d⁺²)
    intersection work runs inside codegen over E rows, and under degree
    orientation each adjacency array is O(√E)-bounded.

    That bound holds only for ``orient="degree"``. Under ``orient="id"`` a
    hub's full out-adjacency array is copied onto every oriented edge
    incident to it, so the two joins move O(d_hub²) bytes per hub, where
    the old 2-path self-join streamed its wedges row by row."""
    adj = e_oriented.groupBy(F.col(SRC)).agg(F.collect_list(DST).alias("nb"))
    a1 = adj.select(F.col(SRC).alias("_u"), F.col("nb").alias("nu"))
    a2 = adj.select(F.col(SRC).alias("_v"), F.col("nb").alias("nv"))
    return (
        e_oriented.join(a1, F.col(SRC) == F.col("_u"))
        .join(a2, F.col(DST) == F.col("_v"))
        .select(SRC, DST, F.array_intersect("nu", "nv").alias("ww"))
    )


def triangles_df(edges: DataFrame, orient: str = "degree") -> DataFrame:
    """DataFrame with single column ``triangles: long`` (exact count)."""
    e = oriented_edges(edges, orient=orient).persist(StorageLevel.MEMORY_AND_DISK)
    # count = Σ |N⁺(u) ∩ N⁺(v)| over oriented edges — no wedge or triangle
    # rows materialize at all (measured ~25% under the 2-path self-join +
    # semi-join at sf0.1; identical exact count)
    out = (
        _tri_intersections(e)
        .agg(F.coalesce(F.sum(F.size("ww")), F.lit(0)).cast("long").alias("triangles"))
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    return out


def triangles_per_node(edges: DataFrame, orient: str = "degree") -> DataFrame:
    """DataFrame[id, triangles] — per-node incident-triangle counts
    (each triangle credited to all three corners)."""
    e = oriented_edges(edges, orient=orient).persist(StorageLevel.MEMORY_AND_DISK)
    tri = _tri_intersections(e).filter(F.size("ww") > 0)
    # one pass: the edge endpoints take the whole intersection size, each
    # third corner takes 1 — 2E' + T rows into the aggregate instead of
    # the wedge join's 55M-row intermediate (exact same counts)
    u, v = F.col(SRC), F.col(DST)
    corners = tri.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(u.alias("id"), F.size("ww").cast("long").alias("c")),
                    F.struct(v.alias("id"), F.size("ww").cast("long").alias("c")),
                ),
                F.transform(
                    F.col("ww"),
                    lambda w: F.struct(w.alias("id"), F.lit(1).cast("long").alias("c")),
                ),
            )
        ).alias("s")
    ).select("s.id", "s.c")
    out = corners.groupBy("id").agg(F.sum("c").alias("triangles")).localCheckpoint(
        eager=True
    )
    e.unpersist()
    return out


def triangle_count_incremental(
    old_edges: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """Exact triangle count of ``old ∪ new`` without re-joining the old
    graph against itself — the append-batch path for the versioned edge
    store: a batch of |B| new edges costs O(|B|·avg-degree) joins against
    the union adjacency instead of the O(E^1.5) full recount.

    Inclusion–exclusion over how many NEW edges a triangle contains
    (k ∈ {1,2,3} — triangles entirely in the old graph are the cached
    invariant, here recomputed as ``triangles_df(old)``):

        A  = Σ over new edges (a,b): |N_union(a) ∩ N_union(b)|   → Σ k·C_k
        B  = new-new wedges (x–y–z, x<z) closed by any union edge → Σ C(k,2)·C_k
        C  = canonical triangles entirely inside the new set      → C_3
        Δ  = A − B + C                       (k − C(k,2) + C(k,3) = 1 ∀k)

    New edges already present in the old set are dropped first, so feeding
    an overlapping batch cannot double-count. Returns the same 1-row
    ``triangles`` frame as ``triangles_df`` and matches it exactly (the
    oracle is the algorithm-independent full count over the union).

    Skew: every join in Δ starts FROM the new-edge set — the old graph's
    hubs are touched only through their adjacency lookups, never wedged
    against each other.
    """
    O = drop_self_loops(undirected_ordered(old_edges)).dropDuplicates([SRC, DST])
    Nraw = drop_self_loops(undirected_ordered(new_edges)).dropDuplicates([SRC, DST])
    N = Nraw.join(O, [SRC, DST], "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
    U = O.unionByName(N).persist(StorageLevel.MEMORY_AND_DISK)
    UD = U.unionByName(
        U.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ND = N.unionByName(N.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))

    # A: common union-neighbors of each new edge's endpoints
    a_wedge = N.select(F.col(SRC).alias("a"), F.col(DST).alias("b")).join(
        UD.select(F.col(SRC).alias("a"), F.col(DST).alias("w")), "a"
    ).filter(F.col("w") != F.col("b"))
    A = a_wedge.join(
        UD.select(F.col(SRC).alias("b"), F.col(DST).alias("w")),
        ["b", "w"],
        "left_semi",
    ).agg(F.count("*").alias("A"))

    # B: wedges made of two new edges (center y, x < z), closed by union
    b_wedge = (
        ND.select(F.col(DST).alias("y"), F.col(SRC).alias("x"))
        .join(ND.select(F.col(SRC).alias("y"), F.col(DST).alias("z")), "y")
        .filter(F.col("x") < F.col("z"))
    )
    B = b_wedge.join(
        U.select(F.col(SRC).alias("x"), F.col(DST).alias("z")),
        ["x", "z"],
        "left_semi",
    ).agg(F.count("*").alias("B"))

    # C: triangles entirely inside the new set (a < b < c canonical)
    n1, n2, n3 = N.alias("n1"), N.alias("n2"), N.alias("n3")
    C = (
        n1.join(n2, F.col("n1.dst") == F.col("n2.src"))
        .join(
            n3,
            (F.col("n1.src") == F.col("n3.src"))
            & (F.col("n2.dst") == F.col("n3.dst")),
            "left_semi",
        )
        .agg(F.count("*").alias("C"))
    )

    t_old = triangles_df(old_edges).withColumnRenamed("triangles", "T0")
    out = (
        t_old.crossJoin(F.broadcast(A))
        .crossJoin(F.broadcast(B))
        .crossJoin(F.broadcast(C))
        .select(
            (F.col("T0") + F.col("A") - F.col("B") + F.col("C"))
            .cast("long")
            .alias("triangles")
        )
        .localCheckpoint(eager=True)
    )
    N.unpersist()
    U.unpersist()
    UD.unpersist()
    return out


def transitivity(edges: DataFrame, orient: str = "degree") -> DataFrame:
    """1-row DataFrame[wedges, triangles, transitivity] — the global
    clustering coefficient 3·triangles / wedges, with
    wedges = Σ_v d(v)·(d(v)−1)/2 over the simple undirected graph.

    Composes the skew-safe oriented triangle plan with an exact-integer
    wedge sum (Σ d·(d−1) is an even BIGINT, halved with integer DIV;
    floats appear only in the final division, rounded to 6 dp on both
    engines). The wedge side is one map-side-combinable degree aggregate —
    nothing pair-shaped materializes outside the triangle join."""
    und = drop_self_loops(undirected_ordered(edges)).dropDuplicates([SRC, DST])
    deg = (
        und.select(F.col(SRC).alias("id"))
        .unionAll(und.select(F.col(DST).alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    wed = deg.agg(
        F.coalesce(F.sum(F.col("d") * (F.col("d") - F.lit(1))), F.lit(0)).alias("_s")
    ).select(F.expr("CAST(_s DIV 2 AS BIGINT)").alias("wedges"))
    return (
        wed.crossJoin(triangles_df(edges, orient=orient))
        .select(
            "wedges",
            "triangles",
            F.when(
                F.col("wedges") > 0,
                F.round(F.lit(3.0) * F.col("triangles") / F.col("wedges"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
        )
        .localCheckpoint(eager=True)
    )


def four_cycle_count(edges: DataFrame, hub_cap: int | None = None) -> DataFrame:
    """1-row DataFrame[four_cycles: long] — exact number of (unordered)
    4-cycles in the simple undirected graph (the butterfly count when the
    graph is bipartite — the standard cohesion statistic for
    host↔resource / user↔item link structures): every endpoint pair
    (u < v) with c common neighbors carries C(c, 2) cycles, and every
    4-cycle has exactly TWO opposite-corner pairs, so

        four_cycles = Σ_{u<v} c·(c−1) DIV 4        (always divisible).

    Plan: wedges pivot at the middle — for middle w, emit each unordered
    endpoint pair once via (u < v) on w's neighbor pairs, groupBy (u, v)
    count. Same join class as triangle counting (2-path enumeration; skew
    is governed by middle degree — degree orientation does not apply to
    4-cycles, so the inherent bound is Σ_w d(w)², the wedge count).
    Exact integers throughout.

    **Power-law safety valve**: on a web graph one d≈10⁶ hub alone emits
    10¹² wedge pairs. ``hub_cap`` drops wedges whose MIDDLE has degree >
    cap: a 4-cycle is then counted once per diagonal whose two opposite
    corners both survive the cap, and the half-sum (floored) is a
    documented LOWER BOUND — equal to the exact count whenever no cycle
    corner is a hub. Default None = exact count (the linkpred ``hub_cap``
    convention)."""
    und = drop_self_loops(undirected_ordered(edges)).dropDuplicates([SRC, DST])
    both = und.unionByName(
        und.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    )
    if hub_cap is not None:
        deg = both.groupBy(SRC).agg(F.count("*").alias("_d"))
        keep = deg.filter(F.col("_d") <= hub_cap).select(SRC)
        both = both.join(keep, SRC, "left_semi")
    a, b = both.alias("a"), both.alias("b")
    wedge_pairs = (
        a.join(
            b,
            (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") < F.col("b.dst")),
        )
        .groupBy(F.col("a.dst").alias("u"), F.col("b.dst").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    return (
        wedge_pairs.agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - F.lit(1))), F.lit(0)
            ).alias("_s")
        )
        .select(F.expr("CAST(_s DIV 4 AS BIGINT)").alias("four_cycles"))
        .localCheckpoint(eager=True)
    )


def four_clique_count(edges: DataFrame, orient: str = "degree") -> DataFrame:
    """DataFrame[four_cliques: long] — exact count of K4 subgraphs.

    Orientation extends the triangle trick one level: under the acyclic
    low→high total order (degree or id — counts identical), every
    4-clique {a<b<c<d} contains exactly one oriented triangle (a,b,c)
    with all three corners pointing at the unique top vertex d — so the
    count is: oriented triangles ⨝ E(a→d), then two semi-joins proving
    E(b→d) and E(c→d). With degree orientation a hub's out-degree is
    bounded by the degeneracy-style argument that bounds the wedge join,
    so the d-candidate join is skew-safe for the same reason the triangle
    join is. Oracle mirrors with id-orientation
    (entry_queries._four_cliques_sql)."""
    e = oriented_edges(edges, orient=orient).persist(StorageLevel.MEMORY_AND_DISK)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e1.src") == F.col("e3.src"))
            & (F.col("e2.dst") == F.col("e3.dst")),
            "left_semi",
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    e4, e5, e6 = e.alias("e4"), e.alias("e5"), e.alias("e6")
    quads = (
        tri.join(e4, F.col("a") == F.col("e4.src"))
        .withColumn("d", F.col("e4.dst"))
        .join(
            e5,
            (F.col("b") == F.col("e5.src")) & (F.col("d") == F.col("e5.dst")),
            "left_semi",
        )
        .join(
            e6,
            (F.col("c") == F.col("e6.src")) & (F.col("d") == F.col("e6.dst")),
            "left_semi",
        )
    )
    out = quads.agg(F.count("*").cast("long").alias("four_cliques")).localCheckpoint(
        eager=True
    )
    e.unpersist()
    return out


def doulion_triangle_estimate(edges: DataFrame, p_bp: int = 2500) -> DataFrame:
    """DOULION (Tsourakakis et al., KDD 2009): sparsify to an expected
    p = p_bp/10000 fraction of the undirected simple edges, count
    triangles EXACTLY on the sample, scale by 1/p³ — the constant-factor
    cheapener for triangle counting when the exact count's O(E^1.5) join
    is the budget item. Expected work drops by p^1.5 on the wedge join
    (both join sides shrink by p).

    Deterministic sampling: the canonical (least, greatest) endpoint pair
    hashes through the portable md5 hash, so both edge directions agree,
    reruns are stable, and a SQL mirror samples the identical edge set.

    DataFrame[p_bp, n_sampled_edges, triangles_sampled, triangle_estimate]
    (estimate rounded to 4 dp; the estimator is unbiased, variance falls
    as triangles share sampled edges — see the paper's Thm 2)."""
    from ..functions.text import token_hash

    und = drop_self_loops(undirected_ordered(edges)).dropDuplicates([SRC, DST])
    keep = (
        F.pmod(
            token_hash(
                F.concat(
                    F.col(SRC).cast("string"),
                    F.lit(":"),
                    F.col(DST).cast("string"),
                    F.lit(":doulion"),
                )
            ),
            F.lit(10000),
        )
        < p_bp
    )
    sampled = und.filter(keep)
    tri = triangles_df(sampled, orient="degree")
    m = sampled.agg(F.count("*").cast("long").alias("m"))
    scale = float(p_bp) ** 3
    return m.crossJoin(tri).select(
        F.lit(int(p_bp)).cast("long").alias("p_bp"),
        F.col("m").alias("n_sampled_edges"),
        F.col("triangles").alias("triangles_sampled"),
        F.round(
            F.col("triangles").cast("double") * F.lit(1e12) / F.lit(scale), 4
        ).alias("triangle_estimate"),
    )


def graphlet_census(edges: DataFrame) -> DataFrame:
    """Exact NON-INDUCED 4-node graphlet census — one row

        [claws, paths3, tailed_triangles, diamonds, four_cycles,
         four_cliques]

    — via closed-form combinatorial aggregates (the ESCAPE method,
    Pinar-Seshadhri-Vishal WWW 2017: count the big motifs from small-motif
    statistics instead of enumerating 4-tuples):

        claws            = Σ_v C(d_v, 3)
        paths3 (P4)      = Σ_{(u,v)∈E} (d_u−1)(d_v−1) − 3T
        tailed triangles = Σ_v t_v·(d_v−2)
        diamonds         = Σ_e C(support_e, 2)

    plus the two enumerated primitives the repo already ships
    (``four_cycle_count``, ``four_clique_count``). Everything except the
    K4/C4 joins is ONE degree table + ONE per-node triangle table + ONE
    per-edge support table — all map-side-combinable rollups of joins the
    triangle machinery already runs; every count is an exact BIGINT.
    Induced counts follow by the standard linear transform downstream.

    BIGINT headroom (the embedding_stats convention): the claw term sums
    d³/6 and the P4 term sums (d−1)² products — with a 10⁷-degree hub a
    single claw term is ~1.7·10²⁰ > 2^63. The counts themselves overflow
    64 bits on such graphs no matter the engine; past that regime route
    the sums through DECIMAL(38,0) (Spark and DuckDB both support it) or
    report per-degree-capped censuses."""
    from pyspark.storagelevel import StorageLevel

    und = (
        drop_self_loops(undirected_ordered(edges))
        .dropDuplicates([SRC, DST])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym = und.unionByName(
        und.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    )
    deg = sym.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("d"))
    # ONE id-oriented triangle enumeration feeds the global count, the
    # per-node counts AND the per-edge supports (triangles_df /
    # triangles_per_node / edge_support each rebuild this same 3-way
    # join — sharing it here cuts the census's dominant cost 3×); the
    # id orientation makes the emitted corners/sides line up with und.
    a, b, c = und.alias("a"), und.alias("b"), und.alias("c")
    tri = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .join(
            c,
            (F.col("c.src") == F.col("a.src")) & (F.col("c.dst") == F.col("b.dst")),
        )
        .select(
            F.col("a.src").alias("u"), F.col("a.dst").alias("v"),
            F.col("b.dst").alias("w"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    t_row = tri.agg(F.count("*").cast("long").alias("triangles"))
    tpn = tri.select(F.explode(F.array("u", "v", "w")).alias("id")).groupBy(
        "id"
    ).agg(F.count("*").alias("triangles"))
    supp = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias(SRC), F.col("v").alias(DST)),
                    F.struct(F.col("v").alias(SRC), F.col("w").alias(DST)),
                    F.struct(F.col("u").alias(SRC), F.col("w").alias(DST)),
                )
            ).alias("e")
        )
        .groupBy("e.src", "e.dst")
        .agg(F.count("*").alias("support"))
    )

    claws = deg.agg(
        F.coalesce(
            F.sum(F.expr("(d * (d - 1) * (d - 2)) DIV 6")), F.lit(0)
        ).cast("long").alias("claws")
    )
    p3_raw = (
        und.join(deg.select(F.col("id").alias(SRC), F.col("d").alias("da")), SRC)
        .join(deg.select(F.col("id").alias(DST), F.col("d").alias("db")), DST)
        .agg(
            F.coalesce(F.sum((F.col("da") - 1) * (F.col("db") - 1)), F.lit(0))
            .cast("long")
            .alias("p3_raw")
        )
    )
    tailed = (
        tpn.join(deg, "id")
        .agg(
            F.coalesce(
                F.sum(F.col("triangles") * (F.col("d") - 2)), F.lit(0)
            ).cast("long").alias("tailed_triangles")
        )
    )
    diamonds = supp.agg(
        F.coalesce(F.sum(F.expr("(support * (support - 1)) DIV 2")), F.lit(0))
        .cast("long")
        .alias("diamonds")
    )
    c4 = four_cycle_count(edges)
    k4 = four_clique_count(edges)
    out = (
        claws.crossJoin(p3_raw)
        .crossJoin(t_row)
        .crossJoin(tailed)
        .crossJoin(diamonds)
        .crossJoin(c4)
        .crossJoin(k4)
        .select(
            "claws",
            (F.col("p3_raw") - 3 * F.col("triangles")).cast("long").alias("paths3"),
            "tailed_triangles",
            "diamonds",
            F.col("four_cycles").cast("long").alias("four_cycles"),
            F.col("four_cliques").cast("long").alias("four_cliques"),
        )
        .localCheckpoint(eager=True)
    )
    tri.unpersist()
    und.unpersist()
    return out


def graphlet_census_induced(edges: DataFrame) -> DataFrame:
    """INDUCED 4-node graphlet counts — the exact linear transform of the
    non-induced ``graphlet_census`` (the containment matrix between the
    six connected 4-node shapes is unit upper-triangular; its integer
    inverse, derived from per-shape subgraph counting and verified by the
    brute-force pytest, is applied row-wise):

        claw_i    = claw − tailed + 2·diamond − 4·k4
        path3_i   = path3 − 2·tailed − 4·cycle4 + 6·diamond − 12·k4
        tailed_i  = tailed − 4·diamond + 12·k4
        cycle4_i  = cycle4 − diamond + 3·k4
        diamond_i = diamond − 6·k4
        k4_i      = k4

    Same cost as the non-induced census (one more projection)."""
    g = graphlet_census(edges)
    return g.select(
        (
            F.col("claws") - F.col("tailed_triangles")
            + 2 * F.col("diamonds") - 4 * F.col("four_cliques")
        ).cast("long").alias("claws_ind"),
        (
            F.col("paths3") - 2 * F.col("tailed_triangles")
            - 4 * F.col("four_cycles") + 6 * F.col("diamonds")
            - 12 * F.col("four_cliques")
        ).cast("long").alias("paths3_ind"),
        (
            F.col("tailed_triangles") - 4 * F.col("diamonds")
            + 12 * F.col("four_cliques")
        ).cast("long").alias("tailed_ind"),
        (
            F.col("four_cycles") - F.col("diamonds")
            + 3 * F.col("four_cliques")
        ).cast("long").alias("cycles4_ind"),
        (F.col("diamonds") - 6 * F.col("four_cliques")).cast("long").alias(
            "diamonds_ind"
        ),
        F.col("four_cliques").alias("cliques4_ind"),
    )


def balance_census(edges: DataFrame) -> DataFrame:
    """Structural-balance triangle census over a deterministically signed
    graph → DataFrame[n_neg, n_triangles, balanced].

    Published frame: Cartwright-Harary structural balance (1956) as
    measured on signed web/social networks by Leskovec, Huttenlocher &
    Kleinberg (WWW 2010) — a triangle is *balanced* iff the product of
    its three edge signs is positive, i.e. its negative-edge count is
    even ({+,+,+} "friend of friend" and {+,-,-} "enemy of my enemy").
    The census buckets every triangle by negative-edge count 0..3.

    The synthetic schema carries no sign column, so signs follow the
    house synthetic-attribute convention (pure modulo arithmetic,
    bit-identical in any engine — cf. with_synthetic_weights):

        sign(u,v) = - iff (min(u,v)·31 + max(u,v)) mod 7 < 3

    (mod 7, not mod 2: a linear-parity sign makes every triangle's
    negative count even by construction — Σ pair-sums = 2(a+b+c) — which
    would empty the odd census buckets and mark every triangle balanced)

    Spark plan: the audited degree-oriented triangle enumeration
    (each triangle exactly once, hubs never expand their own wedge
    square) with the semi-join widened to keep the three corners; signs
    are closed-form column expressions over the corner ids — no extra
    join, no UDF. One groupBy(n_neg) ≤ 4-row aggregate on top.
    """
    e = oriented_edges(edges, orient="degree").persist(StorageLevel.MEMORY_AND_DISK)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e1.src") == F.col("e3.src"))
            & (F.col("e2.dst") == F.col("e3.dst")),
            "left_semi",
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )

    def neg(x, y):
        return ((F.least(x, y) * 31 + F.greatest(x, y)) % 7 < 3).cast("long")

    census = (
        tri.select(
            (neg(F.col("a"), F.col("b"))
             + neg(F.col("b"), F.col("c"))
             + neg(F.col("a"), F.col("c"))).cast("long").alias("n_neg")
        )
        .groupBy("n_neg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .select("n_neg", "n_triangles", (F.col("n_neg") % 2 == 0).alias("balanced"))
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    return census


def burt_constraint(edges: DataFrame) -> DataFrame:
    """Burt's structural-holes network constraint → DataFrame[id, constraint].

    Published frame: Burt, "Structural Holes" (1992) — the canonical
    brokerage metric. On the undirected simple graph with uniform tie
    strengths, the investment of i in j is p_ij = 1/deg(i), and

        constraint(i) = Σ_{j∈N(i)} ( p_ij + Σ_{q∈N(i)∩N(j)} p_iq·p_qj )²

    Low constraint = i spans structural holes (its contacts are mutually
    disconnected — the broker position); high constraint = i's ego
    network is closed. Reported rounded to 6 dp (the house float-gate
    convention, cf. pagerank).

    Spark plan: the indirect term Σ_q p_iq·p_qj only exists on CLOSED
    wedges — (i,q), (q,j) and (i,j) all edges, i.e. {i,q,j} a triangle —
    so it is enumerated from the degree-oriented triangle join (the
    skew-safe machinery ``triangles_df`` runs: a hub of degree D builds
    O(D) oriented wedges at its low-degree neighbors, never O(D²) at
    itself — the same orientation trick as the reference tc merge
    heuristic, triangle_counting.h:531-567). Each triangle expands to its
    6 ordered (i, q, j) orientations with contribution
    (1/deg i)·(1/deg q) — bounded fan-out (6T rows total), identical
    sums. The former plan's raw middle-vertex wedge self-join had
    deg(q)² fan-out through every hub before its closed-wedge semi-join
    could drop open wedges.
    """
    und = undirected_ordered(drop_self_loops(edges.select(SRC, DST))).dropDuplicates(
        [SRC, DST]
    )
    deg = (
        und.select(F.col(SRC).alias("id"))
        .unionAll(und.select(F.col(DST).alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # canonical edges with both endpoint degrees, oriented low (deg, id)
    # endpoint first — every wedge is built at its lowest-degree corner
    da, db = deg.alias("da"), deg.alias("db")
    u = und.join(da, und[SRC] == F.col("da.id")).join(db, und[DST] == F.col("db.id"))
    lo_first = (F.col("da.deg") < F.col("db.deg")) | (
        (F.col("da.deg") == F.col("db.deg")) & (und[SRC] < und[DST])
    )
    oe = u.select(
        F.when(lo_first, und[SRC]).otherwise(und[DST]).alias(SRC),
        F.when(lo_first, und[DST]).otherwise(und[SRC]).alias(DST),
        F.when(lo_first, F.col("da.deg")).otherwise(F.col("db.deg")).alias("ds"),
        F.when(lo_first, F.col("db.deg")).otherwise(F.col("da.deg")).alias("dd"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # closed-wedge (triangle) enumeration with all three degrees carried
    # along from the edge sides — no extra degree joins on the triangles
    e1, e2, e3 = oe.alias("e1"), oe.alias("e2"), oe.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e1.src") == F.col("e3.src"))
            & (F.col("e2.dst") == F.col("e3.dst")),
            "left_semi",
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
            (F.lit(1.0) / F.col("e1.ds")).alias("pa"),
            (F.lit(1.0) / F.col("e1.dd")).alias("pb"),
            (F.lit(1.0) / F.col("e2.dd")).alias("pc"),
        )
    )
    # 6 ordered (i, j) pairs per triangle; contribution p_iq·p_qj with q
    # the third corner — term values identical to the former plan's
    # (1/deg i)·(1/deg q) products, only the enumeration order changed
    indirect = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("i"), F.col("c").alias("j"),
                             (F.col("pa") * F.col("pb")).alias("v")),
                    F.struct(F.col("c").alias("i"), F.col("a").alias("j"),
                             (F.col("pc") * F.col("pb")).alias("v")),
                    F.struct(F.col("b").alias("i"), F.col("c").alias("j"),
                             (F.col("pb") * F.col("pa")).alias("v")),
                    F.struct(F.col("c").alias("i"), F.col("b").alias("j"),
                             (F.col("pc") * F.col("pa")).alias("v")),
                    F.struct(F.col("a").alias("i"), F.col("b").alias("j"),
                             (F.col("pa") * F.col("pc")).alias("v")),
                    F.struct(F.col("b").alias("i"), F.col("a").alias("j"),
                             (F.col("pb") * F.col("pc")).alias("v")),
                )
            ).alias("o")
        )
        .select("o.i", "o.j", "o.v")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("ind"))
    )

    # p_ij = 1/deg(i) for every ordered adjacent pair, from the same
    # degree-carrying edge table (no separate adj ⋈ deg join)
    padj = oe.select(
        F.col(SRC).alias("i"), F.col(DST).alias("j"),
        (F.lit(1.0) / F.col("ds")).alias("p"),
    ).unionByName(
        oe.select(
            F.col(DST).alias("i"), F.col(SRC).alias("j"),
            (F.lit(1.0) / F.col("dd")).alias("p"),
        )
    )

    out = (
        padj.join(indirect, ["i", "j"], "left")
        .select(
            F.col("i").alias("id"),
            F.pow(F.col("p") + F.coalesce(F.col("ind"), F.lit(0.0)), F.lit(2.0)).alias("c2"),
        )
        .groupBy("id")
        .agg(F.round(F.sum("c2"), 6).alias("constraint"))
        .localCheckpoint(eager=True)
    )
    oe.unpersist()
    return out
