"""Percolation robustness census — the Albert–Jeong–Barabási experiment
("Error and attack tolerance of complex networks", Nature 2000), BOTH
halves:

- ``attack_percolation``   — remove the top fraction of nodes by degree
  (the hubs a targeted attack takes out first);
- ``random_percolation``   — remove the same fraction chosen by a
  deterministic pseudo-random rank (the error-tolerance twin).

Web link graphs are famously robust to random failure and fragile to
targeted attack; the pair of gates makes that contrast a measured number
(giant_size under each removal at the same fraction).

Output is the one-row summary the percolation curve is built from at a
given removal fraction:

    [n_removed, n_remaining, giant_size, n_components]

n_components counts isolated survivors as singleton components, so the
row is a complete partition census of the surviving node set.

Scale shape: one degree aggregate; the top-k cut goes through the
degree HISTOGRAM (≤ max-degree rows, driver-bounded) to find the
threshold degree, with only the id-ordered ties at the threshold passing
through a distributed TakeOrdered — no global sort window ever sees the
V-row table. Two semi-joins drop attacked endpoints, then the existing
hash-min CC kernel runs on the surviving edges. Nothing new shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, drop_self_loops, nodes_of, symmetrize


def attack_percolation(
    edges: DataFrame, frac: float = 0.05, cc: str = "hashmin"
) -> DataFrame:
    """DataFrame[n_removed, n_remaining, giant_size, n_components] after
    removing floor(frac·V) nodes in (undirected-degree DESC, id ASC)
    order. Deterministic; frac=0 degenerates to a plain CC census."""
    from pyspark.storagelevel import StorageLevel

    # persist the deduped edge set: the degree histogram, the survivor
    # anti-joins and the CC kernel's node/edge derivations all reference
    # it — unpersisted, every reference re-ran the distinct (measured
    # ~2-3s × ~6 references at sf0.1, the bulk of the old 23s row)
    e = (
        drop_self_loops(edges.select(SRC, DST))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    und = e.unionByName(
        e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    ).distinct()
    nodes = nodes_of(e)
    n_nodes = nodes.count()
    k = int(n_nodes * frac)

    udeg = und.groupBy(F.col(SRC).alias("id")).agg(F.count("*").alias("ud"))
    ranked = nodes.join(udeg, "id", "left").select(
        "id", F.coalesce("ud", F.lit(0)).alias("ud")
    )
    # top-k cut WITHOUT a global row_number window (which would sort all V
    # rows in one task): the degree histogram (≤ max-degree rows, driver-
    # bounded like degree_distribution) gives the threshold degree t and
    # how many id-ordered ties at t fill the quota; ties resolve through
    # orderBy().limit() — Spark's distributed TakeOrdered, never a
    # single-partition sort
    hist = sorted(
        (
            (r["ud"], r["c"])
            for r in ranked.groupBy("ud").agg(F.count("*").alias("c")).collect()
        ),
        reverse=True,
    )
    need, t, r_ties = k, None, 0
    for d, c in hist:
        if need <= 0:
            break
        t, r_ties = d, min(need, c)
        need -= c
    if t is None:
        removed = ranked.filter(F.lit(False)).select("id")
    else:
        hi = ranked.filter(F.col("ud") > t).select("id")
        ties = (
            ranked.filter(F.col("ud") == t)
            .select("id")
            .orderBy("id")
            .limit(r_ties)
        )
        removed = hi.unionByName(ties)
    out = _survivor_census(e, nodes, removed, k, cc)
    e.unpersist()
    return out


def random_percolation(
    edges: DataFrame, frac: float = 0.05, seed: int = 0, cc: str = "hashmin"
) -> DataFrame:
    """DataFrame[n_removed, n_remaining, giant_size, n_components] after
    removing floor(frac·V) nodes in (LCG-rank ASC, id ASC) order — the
    RANDOM-failure half of the AJB census, deterministic via the repo's
    closed-form LCG: rv(id) = (1103515245·(id+seed) + 12345) mod 65536.

    Scale shape mirrors the attack variant: the exact-k cut goes through
    the rv HISTOGRAM — ≤65536 rows at ANY graph scale (the modulus bounds
    it, unlike a degree histogram which is merely max-degree-bounded) —
    and only the id-ordered ties in the threshold bucket pass through a
    distributed TakeOrdered (≈ V/65536 rows, spread across partitions).
    No global sort window ever sees the V-row node table."""
    from pyspark.storagelevel import StorageLevel

    # persisted for the same multi-reference reason as attack_percolation
    e = (
        drop_self_loops(edges.select(SRC, DST))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = nodes_of(e)
    n_nodes = nodes.count()
    k = int(n_nodes * frac)

    # fold the modulus into the id FIRST: (a·x + c) mod m ≡
    # (a·(x mod m) + c) mod m, and a·(x mod m) ≤ ~2^46 — so the rank is
    # overflow-proof at ANY id width (a·x itself would overflow BIGINT
    # near id ≈ 2^43, where Spark wraps silently but DuckDB raises —
    # exactly the cross-engine divergence the gates exist to prevent)
    ranked = nodes.select(
        "id",
        (
            (F.lit(1103515245) * ((F.col("id") + F.lit(seed)) % 65536) + F.lit(12345))
            % 65536
        ).alias("rv"),
    )
    hist = sorted(
        (r["rv"], r["c"])
        for r in ranked.groupBy("rv").agg(F.count("*").alias("c")).collect()
    )
    need, t, r_ties = k, None, 0
    for v, c in hist:
        if need <= 0:
            break
        t, r_ties = v, min(need, c)
        need -= c
    if t is None:
        removed = ranked.filter(F.lit(False)).select("id")
    else:
        lo = ranked.filter(F.col("rv") < t).select("id")
        ties = (
            ranked.filter(F.col("rv") == t).select("id").orderBy("id").limit(r_ties)
        )
        removed = lo.unionByName(ties)
    out = _survivor_census(e, nodes, removed, k, cc)
    e.unpersist()
    return out


def _survivor_census(
    e: DataFrame, nodes: DataFrame, removed: DataFrame, k: int, cc: str
) -> DataFrame:
    """Shared tail of both percolation variants: drop attacked endpoints
    (two semi-joins), run the CC kernel on the surviving edges, and fold
    isolated survivors into the component count as singletons."""
    from .components import (
        connected_components,
        connected_components_alternating,
    )

    # materialize the removal set (≤ k rows) and the survivor edge set
    # ONCE: the CC kernel derives its node table, symmetrized edges and
    # several counts from ``kept`` — left lazy, each derivation re-ran
    # the histogram/TakeOrdered/anti-join chain end-to-end
    removed = removed.localCheckpoint(eager=True)
    survivors = nodes.join(removed, "id", "left_anti")
    kept = (
        e.join(removed.withColumnRenamed("id", SRC), SRC, "left_anti")
        .join(removed.withColumnRenamed("id", DST), DST, "left_anti")
        .localCheckpoint(eager=True)
    )

    # cc="hashmin" (default) vs "star": labels identical (min member id;
    # the cc_alternating gate proves the equivalence) so either satisfies
    # the oracle. A quiet-window phase profile at sf0.1 measured hash-min
    # FASTER on this gate graph's survivors (4.1s vs 6.6s — stripping 5%
    # of a dense mod-derived graph barely stretches its diameter), so it
    # stays the default; choose "star" when the attack genuinely shatters
    # the graph into long filaments (the O(diameter)-rounds regime where
    # star contraction's O(log^2 n) wins).
    cc_fn = (
        connected_components_alternating if cc == "star" else connected_components
    )
    cc = cc_fn(kept)
    sizes = cc.groupBy("component").agg(F.count("*").alias("sz"))
    stats = sizes.agg(
        F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("giant_edgeful"),
        F.count("*").cast("long").alias("n_cc"),
        F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_in_cc"),
    ).collect()[0]
    n_surv = survivors.count()
    n_isolated = n_surv - int(stats["n_in_cc"])
    giant = max(int(stats["giant_edgeful"]), 1 if n_surv > 0 else 0)
    return e.sparkSession.createDataFrame(
        [
            (
                k,
                n_surv,
                giant,
                int(stats["n_cc"]) + n_isolated,
            )
        ],
        "n_removed long, n_remaining long, giant_size long, n_components long",
    )


def bond_percolation(
    edges: DataFrame, keep_bp: int = 7500, cc: str = "hashmin"
) -> DataFrame:
    """BOND percolation — the edge-removal axis of the robustness census
    (nodes fail in ``attack_percolation``/``random_percolation``; LINKS
    fail here, the model for route/link outages): keep each undirected
    simple edge independently with probability keep_bp/10000 via the
    portable md5 hash of its canonical endpoint pair (the doulion
    sampling contract — deterministic, direction-agnostic, SQL-mirrored),
    then census the components over ALL original nodes.

    DataFrame[keep_bp, n_edges_kept, giant_size, n_components]."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.text import token_hash

    e = (
        drop_self_loops(edges.select(SRC, DST))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = nodes_of(e)
    canon = e.select(
        F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST)
    ).distinct()
    kept = canon.filter(
        F.pmod(
            token_hash(
                F.concat(
                    F.col(SRC).cast("string"), F.lit(":"),
                    F.col(DST).cast("string"), F.lit(":bond"),
                )
            ),
            F.lit(10000),
        )
        < keep_bp
    )
    m = kept.count()
    empty = nodes.filter(F.lit(False)).select("id")
    out = _survivor_census(kept, nodes, empty, 0, cc)
    e.unpersist()
    return out.select(
        F.lit(int(keep_bp)).cast("long").alias("keep_bp"),
        F.lit(int(m)).cast("long").alias("n_edges_kept"),
        "giant_size",
        "n_components",
    )


def molloy_reed(edges: DataFrame) -> DataFrame:
    """Molloy-Reed robustness criterion → one-row DataFrame
    [n_nodes, k_mean, k2_mean, kappa, robust, f_c].

    Published frame: Molloy & Reed (1995) — a random graph with given
    degree sequence has a giant component iff κ = ⟨k²⟩/⟨k⟩ > 2 — and
    Cohen, Erez, ben-Avraham & Havlin, "Resilience of the Internet to
    random breakdowns" (PRL 2000): under random node failure the giant
    component survives up to the critical fraction

        f_c = 1 − 1/(κ − 1)

    κ ≫ 2 (heavy-tailed web graphs) ⇒ f_c ≈ 1: robust to random failure
    (yet fragile to targeted attack — the curve the gated
    attack_percolation measures empirically; this is its closed-form
    null prediction from the degree sequence alone).

    Spark plan: one degree aggregate folded to a single row — Σd and Σd²
    exact BIGINTs, floats only in the final expression (6 dp).
    """
    und = symmetrize(edges)
    deg = und.groupBy(F.col(SRC).alias("id")).agg(F.count(F.lit(1)).alias("d"))
    return deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").alias("s1"),
        F.sum(F.col("d") * F.col("d")).alias("s2"),
    ).select(
        F.col("n").alias("n_nodes"),
        F.round(F.col("s1") / F.col("n"), 6).alias("k_mean"),
        F.round(F.col("s2") / F.col("n"), 6).alias("k2_mean"),
        F.round(F.col("s2") / F.col("s1"), 6).alias("kappa"),
        (F.col("s2") / F.col("s1") > 2.0).alias("robust"),
        F.when(
            F.col("s2") / F.col("s1") > 1.0,
            F.round(1.0 - 1.0 / (F.col("s2") / F.col("s1") - 1.0), 6),
        ).alias("f_c"),
    )
