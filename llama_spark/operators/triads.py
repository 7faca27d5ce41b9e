"""Full Holland–Leinhardt triad census (16 MAN classes) for a directed
simple graph — the standard social-network / web-graph motif census
("A Method for Detecting Structure in Sociometric Data", AJS 1970;
the per-class labels follow the statnet/igraph convention).

Every unordered node triple falls in exactly one of 16 classes named
M-A-N + orientation: 003, 012, 102, 021D, 021U, 021C, 111D, 111U,
030T, 030C, 201, 120D, 120U, 120C, 210, 300 (counts of Mutual /
Asymmetric / Null dyads, then Down/Up/Cyclic/Transitive orientation).

Scale shape — the full Batagelj–Mrvar closed-form decomposition
("A subquadratic triad census algorithm", Social Networks 2001):
NOTHING quadratic is ever materialized:

* per-vertex arc-type counts mu/ao/ai (mutual / out-only / in-only
  linked neighbors) give every PATH-skeleton class count as a
  combinatorial aggregate — Σ C(mu,2) → 201, Σ mu·ao → 111U,
  Σ C(ao,2) → 021D, … — computed in one V-row pass;
* the only enumeration is the triangle listing (degree-oriented, the
  skew-safe triangle-counting join), which serves three duties: the
  triangle-skeleton classes directly, the per-class wedge corrections
  subtracted from the combinatorial path counts (a wedge whose outer
  pair is linked belongs to exactly one triangle), and the
  common-neighbor sums for the disconnected-class arithmetic;
* the disconnected classes are pure algebra: n_102 = M·V − Σ_v
  udeg(v)·mu(v) + Σ_tri m3, n_012 the asymmetric analog, 003 = C(V,3)
  minus everything else.

So total work is one E-row dyad build, one V-row aggregate, one
triangle enumeration — the same envelope as triangle counting. An
earlier revision materialized every wedge (Σ deg² rows — a 10k-degree
hub alone contributes 50M); this formulation replaces that with
per-vertex arithmetic, which is what makes the census viable on a
power-law web graph at 100×.

Reference parity: the reference ships the wedge/triangle iterators this
builds on (triangle_counting.h common-neighbor iteration); the census is
the composed analysis those iterators exist for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .. import graph
from ..graph import DST, SRC, drop_self_loops, nodes_of

TRIAD_TYPES = [
    "003", "012", "102", "021D", "021U", "021C", "111D", "111U",
    "030T", "030C", "201", "120D", "120U", "120C", "210", "300",
]

_PATH_CLASSES = ["201", "111U", "111D", "021D", "021U", "021C"]


def _wedge_class(mo_x, om_x, mo_y, om_y):
    """Path-rule class of a wedge at a center with arcs (mo_x, om_x) to
    neighbor x and (mo_y, om_y) to neighbor y — mo = center→neighbor."""
    mx_m = mo_x & om_x
    my_m = mo_y & om_y
    m_cnt = mx_m.cast("int") + my_m.cast("int")
    out_c = mo_x.cast("int") + mo_y.cast("int")
    away = F.when(mx_m, mo_y).otherwise(mo_x)
    return (
        F.when(m_cnt == 2, F.lit("201"))
        .when(m_cnt == 1, F.when(away, F.lit("111U")).otherwise(F.lit("111D")))
        .when(out_c == 2, F.lit("021D"))
        .when(out_c == 0, F.lit("021U"))
        .otherwise(F.lit("021C"))
    )


def triad_census(edges: DataFrame) -> DataFrame:
    """DataFrame[triad_type, n] — one row per MAN class (all 16, zero
    rows included), n = exact count of unordered node triples of that
    class. Nodes = endpoints of at least one edge (the graph's node
    set); self-loops dropped."""
    from .triangles import oriented_edges

    spark = edges.sparkSession
    e = drop_self_loops(edges.select(SRC, DST)).distinct()

    # canonical dyad table: pair a<b, fwd = a→b exists, rev = b→a exists
    dy = (
        e.select(
            F.least(SRC, DST).alias("a"),
            F.greatest(SRC, DST).alias("b"),
            (F.col(SRC) < F.col(DST)).alias("f"),
        )
        .groupBy("a", "b")
        .agg(F.max("f").alias("fwd"), F.max(~F.col("f")).alias("rev"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    m_dy = dy.count()
    small_dy = m_dy <= graph.EDGE_BROADCAST_MAX_ROWS

    # ---- per-vertex arc-type counts → combinatorial path-class sums ----
    ends = dy.select(
        F.col("a").alias("v"), F.col("fwd").alias("mo"), F.col("rev").alias("om")
    ).unionByName(
        dy.select(
            F.col("b").alias("v"), F.col("rev").alias("mo"), F.col("fwd").alias("om")
        )
    )
    pv = ends.groupBy("v").agg(
        F.sum((F.col("mo") & F.col("om")).cast("long")).alias("mu"),
        F.sum((F.col("mo") & ~F.col("om")).cast("long")).alias("ao"),
        F.sum((~F.col("mo") & F.col("om")).cast("long")).alias("ai"),
        F.count("*").alias("ud"),
    )
    # lazy 1-row aggregates — collected CONCURRENTLY with the triangle
    # aggregate below (plans/overlap.py); all are independent
    comb_df = pv.agg(
        F.sum(F.col("mu") * (F.col("mu") - 1)).alias("s201x2"),
        F.sum(F.col("mu") * F.col("ao")).alias("s111U"),
        F.sum(F.col("mu") * F.col("ai")).alias("s111D"),
        F.sum(F.col("ao") * (F.col("ao") - 1)).alias("s021Dx2"),
        F.sum(F.col("ai") * (F.col("ai") - 1)).alias("s021Ux2"),
        F.sum(F.col("ao") * F.col("ai")).alias("s021C"),
        F.sum(F.col("ud") * F.col("mu")).alias("deg_mu"),
        F.sum(F.col("ud") * (F.col("ao") + F.col("ai"))).alias("deg_a"),
    )

    dyad_df = dy.agg(
        F.sum((F.col("fwd") & F.col("rev")).cast("long")).alias("m_dyads"),
        F.sum((F.col("fwd") != F.col("rev")).cast("long")).alias("a_dyads"),
    )

    # ---- triangle enumeration (degree-oriented, each und triangle once) ----
    o = oriented_edges(e, orient="degree").persist(StorageLevel.MEMORY_AND_DISK)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tset = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e1.src") == F.col("e3.src"))
            & (F.col("e2.dst") == F.col("e3.dst")),
            "left_semi",
        )
        .select(
            F.col("e1.src").alias("u"),
            F.col("e1.dst").alias("v"),
            F.col("e2.dst").alias("w"),
        )
    )
    canon = tset.select(
        F.least("u", "v", "w").alias("a"),
        (F.col("u") + F.col("v") + F.col("w"))
        .__sub__(F.least("u", "v", "w"))
        .__sub__(F.greatest("u", "v", "w"))
        .alias("b"),
        F.greatest("u", "v", "w").alias("c"),
    )
    ab, bc, ac = dy.alias("ab"), dy.alias("bc"), dy.alias("ac")

    def _side(df):
        # broadcast the E-row dyad table into the three classification
        # joins while small (the trussness side policy): the T-row
        # triangle stream then needs no exchange at all
        return F.broadcast(df) if small_dy else df

    cn = canon.alias("cn")
    tri = (
        cn.join(
            _side(ab), (F.col("cn.a") == F.col("ab.a")) & (F.col("cn.b") == F.col("ab.b"))
        )
        .join(
            _side(bc), (F.col("cn.b") == F.col("bc.a")) & (F.col("cn.c") == F.col("bc.b"))
        )
        .join(
            _side(ac), (F.col("cn.a") == F.col("ac.a")) & (F.col("cn.c") == F.col("ac.b"))
        )
        .select(
            F.col("ab.fwd").alias("abf"), F.col("ab.rev").alias("abr"),
            F.col("bc.fwd").alias("bcf"), F.col("bc.rev").alias("bcr"),
            F.col("ac.fwd").alias("acf"), F.col("ac.rev").alias("acr"),
        )
    )

    m_ab = F.col("abf") & F.col("abr")
    m_bc = F.col("bcf") & F.col("bcr")
    m_ac = F.col("acf") & F.col("acr")
    m3 = m_ab.cast("int") + m_bc.cast("int") + m_ac.cast("int")
    third_out = (
        F.when(m_ab, F.col("bcr").cast("int") + F.col("acr").cast("int"))
        .when(m_bc, F.col("abf").cast("int") + F.col("acf").cast("int"))
        .otherwise(F.col("abr").cast("int") + F.col("bcf").cast("int"))
    )
    third_in = (
        F.when(m_ab, F.col("bcf").cast("int") + F.col("acf").cast("int"))
        .when(m_bc, F.col("abr").cast("int") + F.col("acr").cast("int"))
        .otherwise(F.col("abf").cast("int") + F.col("bcr").cast("int"))
    )
    out_a = F.col("abf").cast("int") + F.col("acf").cast("int")
    out_b = F.col("abr").cast("int") + F.col("bcf").cast("int")
    out_c3 = F.col("bcr").cast("int") + F.col("acr").cast("int")
    tri_type = (
        F.when(m3 == 3, F.lit("300"))
        .when(m3 == 2, F.lit("210"))
        .when(
            m3 == 1,
            F.when(third_out == 2, F.lit("120D"))
            .when(third_in == 2, F.lit("120U"))
            .otherwise(F.lit("120C")),
        )
        .otherwise(
            F.when(
                F.greatest(out_a, out_b, out_c3) == 2, F.lit("030T")
            ).otherwise(F.lit("030C"))
        )
    )
    # the triangle's three wedges (center a / b / c), classified by the
    # same path rule — these are the linked-outer-pair wedges to subtract
    # from the combinatorial path-class sums
    wc_a = _wedge_class(F.col("abf"), F.col("abr"), F.col("acf"), F.col("acr"))
    wc_b = _wedge_class(F.col("abr"), F.col("abf"), F.col("bcf"), F.col("bcr"))
    wc_c = _wedge_class(F.col("acr"), F.col("acf"), F.col("bcr"), F.col("bcf"))

    aggs = [
        F.count("*").alias("n_tri"),
        F.sum(m3.cast("long")).alias("m3_sum"),
    ]
    for t in ("300", "210", "120D", "120U", "120C", "030T", "030C"):
        aggs.append(F.sum((tri_type == t).cast("long")).alias(f"t_{t}"))
    for cl in _PATH_CLASSES:
        aggs.append(
            F.sum(
                (wc_a == cl).cast("long")
                + (wc_b == cl).cast("long")
                + (wc_c == cl).cast("long")
            ).alias(f"w_{cl}")
        )
    # four independent driver-side evaluations — the node count, the two
    # 1-row combinatorial aggregates and the expensive triangle aggregate
    # — overlapped from driver threads (plans/overlap.py)
    from ..plans.overlap import run_concurrent

    n_nodes, comb, dyad, trow = run_concurrent(
        lambda: nodes_of(e).count(),
        lambda: comb_df.collect()[0],
        lambda: dyad_df.collect()[0],
        lambda: tri.agg(*aggs).collect()[0],
    )

    def _z(x) -> int:
        return int(x or 0)

    n_tri = _z(trow["n_tri"])
    counts: dict[str, int] = {}
    counts["201"] = _z(comb["s201x2"]) // 2 - _z(trow["w_201"])
    counts["111U"] = _z(comb["s111U"]) - _z(trow["w_111U"])
    counts["111D"] = _z(comb["s111D"]) - _z(trow["w_111D"])
    counts["021D"] = _z(comb["s021Dx2"]) // 2 - _z(trow["w_021D"])
    counts["021U"] = _z(comb["s021Ux2"]) // 2 - _z(trow["w_021U"])
    counts["021C"] = _z(comb["s021C"]) - _z(trow["w_021C"])
    for t in ("300", "210", "120D", "120U", "120C", "030T", "030C"):
        counts[t] = _z(trow[f"t_{t}"])

    m_dyads, a_dyads = _z(dyad["m_dyads"]), _z(dyad["a_dyads"])
    m3_sum = _z(trow["m3_sum"])
    a3_sum = 3 * n_tri - m3_sum
    counts["102"] = m_dyads * n_nodes - _z(comb["deg_mu"]) + m3_sum
    counts["012"] = a_dyads * n_nodes - _z(comb["deg_a"]) + a3_sum
    total = n_nodes * (n_nodes - 1) * (n_nodes - 2) // 6
    counts["003"] = total - sum(counts.values())

    o.unpersist()
    dy.unpersist()
    rows = [(t, int(counts.get(t, 0))) for t in TRIAD_TYPES]
    return spark.createDataFrame(rows, "triad_type string, n long")
