"""HITS, ANF neighborhood function, assortativity/reciprocity."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from tests.conftest import edges_df

# a small directed graph with hubs, authorities, a reciprocal pair and
# one sink: 0,1 point at 2,3; 2 points back at 0 (reciprocity with 0->2);
# 4 is a pure authority, 5 a pure hub
PAIRS = [
    (0, 2),
    (0, 3),
    (1, 2),
    (1, 3),
    (2, 0),
    (1, 4),
    (5, 2),
    (5, 4),
    (3, 4),
]


# ------------------------------------------------------------------- HITS


def _hits_model(pairs, iters):
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    n = len(nodes)
    auth = {v: 1.0 / n for v in nodes}
    hub = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        ar = {v: 0.0 for v in nodes}
        for u, v in pairs:
            ar[v] += hub[u]
        tot = sum(ar.values())
        auth = {v: ar[v] / tot for v in nodes}
        hr = {v: 0.0 for v in nodes}
        for u, v in pairs:
            hr[u] += auth[v]
        tot = sum(hr.values())
        hub = {v: hr[v] / tot for v in nodes}
    return auth, hub


def test_hits_matches_model(spark):
    from llama_spark.operators.hits import hits_result

    res = hits_result(edges_df(spark, PAIRS), max_iter=8)
    auth, hub = _hits_model(PAIRS, 8)
    got = {r["id"]: (r["auth"], r["hub"]) for r in res.state.collect()}
    assert set(got) == set(auth)
    for v in auth:
        assert got[v][0] == pytest.approx(auth[v], abs=1e-9)
        assert got[v][1] == pytest.approx(hub[v], abs=1e-9)
    # L1-normalized
    assert sum(a for a, _ in got.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(h for _, h in got.values()) == pytest.approx(1.0, abs=1e-9)
    # 2 is the top authority (3 in-links from hubs), 1 the top hub
    top_auth = max(got, key=lambda v: got[v][0])
    top_hub = max(got, key=lambda v: got[v][1])
    assert top_auth == 2
    assert top_hub == 1


def test_hits_empty(spark):
    from llama_spark.operators.hits import hits_result

    e = edges_df(spark, PAIRS).filter("src < 0")
    assert hits_result(e).state.count() == 0


# -------------------------------------------------------------------- ANF


def _anf_hash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _anf_model(pairs, max_t, registers):
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    out = {v: [] for v in nodes}
    for u, v in pairs:
        out[u].append(v)
    masks = {}
    for v in nodes:
        ms = []
        for r in range(registers):
            h = _anf_hash(f"{v}:anf{r}") | (1 << 59)
            ms.append(h & -h)
        masks[v] = ms
    rows = []

    def estimate(t):
        tot = 0.0
        for v in nodes:
            bsum = 0
            for m in masks[v]:
                lz = (~m) & -(~m)
                bsum += bin(lz - 1).count("1")
            tot += 2.0 ** (bsum / float(registers))
        rows.append((t, round(tot / 0.77351 / float(len(nodes)), 6)))

    estimate(0)
    for t in range(1, max_t + 1):
        nxt = {}
        for v in nodes:
            ms = list(masks[v])
            for w in out[v]:
                for r in range(registers):
                    ms[r] |= masks[w][r]
            nxt[v] = ms
        masks = nxt
        estimate(t)
    return rows


def test_anf_matches_model_exactly(spark):
    from llama_spark.operators.anf import neighborhood_function

    got = {
        r["t"]: r["avg_reach"]
        for r in neighborhood_function(
            edges_df(spark, PAIRS), max_t=4, registers=8
        ).collect()
    }
    want = dict(_anf_model(PAIRS, 4, 8))
    assert set(got) == set(want)
    for t in want:
        assert got[t] == pytest.approx(want[t], abs=1e-6), t


def test_anf_result_does_not_recompute_masks(spark):
    """Each round's estimate is taken while its state is live: the result
    is local rows, so collecting it never rehashes the initial FM masks."""
    from llama_spark.operators.anf import neighborhood_function

    nf = neighborhood_function(edges_df(spark, PAIRS), max_t=2, registers=8)
    assert "md5" not in nf._jdf.queryExecution().optimizedPlan().toString()
    assert [r["t"] for r in nf.orderBy("t").collect()] == [0, 1, 2]


def test_anf_monotone_and_saturates_on_chain(spark):
    # 0->1->2->3: every node's t-ball grows until its reach saturates
    from llama_spark.operators.anf import neighborhood_function

    chain = [(i, i + 1) for i in range(3)]
    rows = sorted(
        (r["t"], r["avg_reach"])
        for r in neighborhood_function(
            edges_df(spark, chain), max_t=5, registers=8
        ).collect()
    )
    vals = [v for _, v in rows]
    assert all(b >= a - 1e-9 for a, b in zip(vals, vals[1:]))
    # chain diameter is 3: rounds 3,4,5 identical (fixpoint reached)
    assert vals[3] == vals[4] == vals[5]


# ------------------------------------------- assortativity / reciprocity


def _assort_model(pairs):
    d = set()
    for u, v in pairs:
        if u != v:
            d.add((u, v))
    und = {(u, v) for u, v in d} | {(v, u) for u, v in d}
    deg = {}
    for u, _ in und:
        deg[u] = deg.get(u, 0) + 1
    m = len(und)
    sj = sum(deg[u] for u, _ in und)
    sjk = sum(deg[u] * deg[v] for u, v in und)
    sjj = sum(deg[u] * deg[u] for u, _ in und)
    assort = float(m * sjk - sj * sj) / (m * sjj - sj * sj)
    rm = sum(1 for u, v in d if (v, u) in d)
    return round(assort, 6), round(rm / float(len(d)), 6)


def test_assortativity_matches_model(spark):
    from llama_spark.graph import assortativity

    row = assortativity(edges_df(spark, PAIRS)).collect()[0]
    want_a, want_r = _assort_model(PAIRS)
    assert row["assortativity"] == pytest.approx(want_a, abs=1e-6)
    assert row["reciprocity"] == pytest.approx(want_r, abs=1e-6)
    # exactly one reciprocal pair (0<->2) out of 9 directed edges
    assert row["reciprocity"] == pytest.approx(round(2 / 9, 6), abs=1e-9)


def test_assortativity_star_is_negative(spark):
    # a star is maximally disassortative: hub(deg n) only touches leaves(deg 1)
    from llama_spark.graph import assortativity

    star = [(0, i) for i in range(1, 8)]
    row = assortativity(edges_df(spark, star)).collect()[0]
    assert row["assortativity"] == pytest.approx(-1.0, abs=1e-6)
    assert row["reciprocity"] == 0.0


# ---------------------------------------------------------------- modularity


def test_modularity_two_triangles(spark):
    # two disjoint triangles, each its own community: Q = 2·(1/2 - 1/4) = 0.5
    from llama_spark.operators.components import connected_components, modularity

    tri2 = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    e = edges_df(spark, tri2)
    comms = connected_components(e).withColumnRenamed("component", "label")
    row = modularity(e, comms).collect()[0]
    assert row["modularity"] == pytest.approx(0.5, abs=1e-9)


def test_modularity_single_community_is_zero(spark):
    from pyspark.sql import functions as F

    from llama_spark.graph import nodes_of
    from llama_spark.operators.components import modularity

    e = edges_df(spark, PAIRS)
    one = nodes_of(e).select("id", F.lit(0).alias("label"))
    row = modularity(e, one).collect()[0]
    assert row["modularity"] == pytest.approx(0.0, abs=1e-9)


# ------------------------------------------------ Katz / eigenvector


def test_katz_matches_model(spark):
    from llama_spark.operators.centrality import katz_centrality

    got = {
        r["id"]: r["katz"]
        for r in katz_centrality(
            edges_df(spark, PAIRS), alpha=0.05, beta=1.0, max_iter=8
        ).collect()
    }
    nodes = sorted({u for u, _ in PAIRS} | {v for _, v in PAIRS})
    x = {v: 1.0 for v in nodes}
    for _ in range(8):
        s = {v: 0.0 for v in nodes}
        for u, v in PAIRS:
            s[v] += x[u]
        x = {v: 1.0 + 0.05 * s[v] for v in nodes}
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == pytest.approx(x[v], abs=1e-9), v


def test_eigenvector_matches_model_and_dag_decays(spark):
    from llama_spark.operators.centrality import eigenvector_centrality

    res = eigenvector_centrality(edges_df(spark, PAIRS), max_iter=8)
    got = {r["id"]: r["score"] for r in res.state.collect()}
    nodes = sorted({u for u, _ in PAIRS} | {v for _, v in PAIRS})
    x = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(8):
        s = {v: 0.0 for v in nodes}
        for u, v in PAIRS:
            s[v] += x[u]
        t = sum(s.values())
        x = {v: (s[v] / t if t > 0 else 0.0) for v in nodes}
    for v in nodes:
        assert got[v] == pytest.approx(x[v], abs=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    # pure DAG: mass drains out of the chain and the guard zeroes the
    # vector instead of dividing by zero
    chain = [(0, 1), (1, 2)]
    res2 = eigenvector_centrality(edges_df(spark, chain), max_iter=5)
    vals = {r["id"]: r["score"] for r in res2.state.collect()}
    assert all(v == 0.0 for v in vals.values())


def test_effective_diameter_chain(spark):
    from llama_spark.operators.anf import effective_diameter, neighborhood_function

    chain = [(i, i + 1) for i in range(3)]
    nf = {r["t"]: r["avg_reach"] for r in neighborhood_function(
        edges_df(spark, chain), max_t=5, registers=8).collect()}
    mx = max(nf.values())
    want = min(t for t, v in nf.items() if v >= 0.9 * mx)
    got = effective_diameter(edges_df(spark, chain), max_t=5, registers=8).collect()[0]
    assert got["effective_diameter"] == want


# --------------------------------------------------------- greedy coloring


def _jp_model(pairs):
    P1, P2, MOD = 1_000_003, 2_654_435_761, 2_147_483_647
    def key(v):
        return (((v % P1) * P2 + (v % MOD)) % MOD) * 4294967296 + (v % 4294967296)
    und = {}
    for u, v in pairs:
        if u == v:
            continue
        und.setdefault(u, set()).add(v)
        und.setdefault(v, set()).add(u)
    active = set(und)
    colors = {}
    while active:
        ready = [
            v for v in active
            if all(key(v) < key(w) for w in und[v] if w in active)
        ]
        assert ready, "JP stalled"
        for v in ready:
            used = {colors[w] for w in und[v] if w in colors}
            c = 0
            while c in used:
                c += 1
            colors[v] = c
        active -= set(ready)
    return colors, und


def test_greedy_coloring_matches_jp_model_and_is_proper(spark):
    from llama_spark.operators.coloring import greedy_coloring

    pairs = PAIRS + [(6, 7), (7, 8), (8, 6), (4, 6)]
    got = {
        r["id"]: r["color"]
        for r in greedy_coloring(edges_df(spark, pairs)).collect()
    }
    want, und = _jp_model(pairs)
    assert got == want
    # proper: no edge joins equal colors; colors start at 0 and are compact
    for u, nbrs in und.items():
        for w in nbrs:
            assert got[u] != got[w], (u, w)
    assert min(got.values()) == 0


def test_greedy_coloring_star_two_colors(spark):
    from llama_spark.operators.coloring import greedy_coloring

    star = [(0, i) for i in range(1, 9)]
    got = {
        r["id"]: r["color"]
        for r in greedy_coloring(edges_df(spark, star)).collect()
    }
    assert len(set(got.values())) == 2
    assert all(got[i] != got[0] for i in range(1, 9))


# ------------------------------------------- incremental triangle count


def test_triangle_count_incremental_random_splits(spark):
    import random

    from llama_spark.operators.triangles import (
        triangle_count_incremental,
        triangles_df,
    )

    rng = random.Random(11)
    pairs = list({(rng.randrange(24), rng.randrange(24)) for _ in range(140)})
    e = edges_df(spark, pairs)
    full = triangles_df(e).collect()[0]["triangles"]
    for mod in (2, 3):
        old = e.filter((F.col("src") + F.col("dst")) % mod != 0)
        new = e.filter((F.col("src") + F.col("dst")) % mod == 0)
        got = triangle_count_incremental(old, new).collect()[0]["triangles"]
        assert got == full, mod
    # empty batch and full batch degenerate correctly
    assert (
        triangle_count_incremental(e, e.limit(0)).collect()[0]["triangles"]
        == full
    )
    assert (
        triangle_count_incremental(e.limit(0), e).collect()[0]["triangles"]
        == full
    )


def test_transitivity_triangle_with_tail(spark):
    # triangle {0,1,2} + edge 2-3: degrees 2,2,3,1 → wedges 1+1+3 = 5,
    # triangles 1 → transitivity 3/5
    from llama_spark.operators.triangles import transitivity

    e = edges_df(spark, [(0, 1), (1, 2), (2, 0), (2, 3)])
    row = transitivity(e).collect()[0]
    assert row["wedges"] == 5
    assert row["triangles"] == 1
    assert abs(row["transitivity"] - 0.6) < 1e-9


def test_transitivity_no_wedges(spark):
    from llama_spark.operators.triangles import transitivity

    row = transitivity(edges_df(spark, [(0, 1)])).collect()[0]
    assert row["wedges"] == 0 and row["triangles"] == 0
    assert row["transitivity"] == 0.0


def test_skipgram_pairs_matches_model(spark):
    from llama_spark.operators.walks import skipgram_pairs

    walks = [(0, 0, 10), (0, 1, 11), (0, 2, 12), (0, 3, 13),
             (1, 0, 11), (1, 1, 10)]
    wdf = spark.createDataFrame(walks, "walk_id long, step long, node long")
    window = 2
    from collections import Counter

    model = Counter()
    for wid in {w[0] for w in walks}:
        seq = sorted((s, n) for ww, s, n in walks if ww == wid)
        for i, (si, ni) in enumerate(seq):
            for sj, nj in seq:
                if si != sj and abs(si - sj) <= window:
                    model[(ni, nj)] += 1
    got = {
        (r["center"], r["context"]): r["cnt"]
        for r in skipgram_pairs(wdf, window=window).collect()
    }
    assert got == dict(model)


def _louvain_model(pairs, rounds):
    # staged-synchronous Louvain move rule — mirrors operators/components.py
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    k = {v: len(ns) for v, ns in adj.items()}
    m2 = sum(k.values())
    comm = {v: v for v in adj}
    for r in range(rounds):
        tot = defaultdict(int)
        for v in adj:
            tot[comm[v]] += k[v]
        new = {}
        for v in adj:
            if (v + r) % 2 != 0:
                new[v] = comm[v]
                continue
            evc = defaultdict(int)
            for u in adj[v]:
                evc[comm[u]] += 1
            evc[comm[v]] += 0
            best = None
            for c, e in sorted(evc.items()):
                t = tot[c] - (k[v] if c == comm[v] else 0)
                key = (m2 * e - k[v] * t, -c)
                if best is None or key > best[0]:
                    best = (key, c)
            new[v] = best[1]
        comm = new
    return comm


def test_louvain_two_triangles_optimal_split(spark):
    from llama_spark.operators.components import louvain_communities, modularity

    pairs = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)]
    e = edges_df(spark, pairs)
    got = {r["id"]: r["comm"] for r in louvain_communities(e, max_iter=4).collect()}
    assert got == _louvain_model(pairs, 4)
    # the staged rule reaches the optimal split {0,1,2}/{3,4,5}
    assert {frozenset(v for v in got if got[v] == c) for c in set(got.values())} == {
        frozenset({0, 1, 2}), frozenset({3, 4, 5})
    }
    comms = louvain_communities(e, max_iter=4).withColumnRenamed("comm", "label")
    q = modularity(e, comms).collect()[0]["modularity"]
    assert abs(q - 0.357143) < 1e-4


def test_louvain_matches_model_random(spark):
    import random

    from llama_spark.operators.components import louvain_communities

    rng = random.Random(3)
    pairs = []
    for base in (0, 20, 40):
        mem = list(range(base, base + 20))
        for _ in range(60):
            a, b = rng.sample(mem, 2)
            pairs.append((a, b))
    for _ in range(8):
        a, b = rng.randrange(0, 60), rng.randrange(0, 60)
        if a != b:
            pairs.append((a, b))
    got = {
        r["id"]: r["comm"]
        for r in louvain_communities(edges_df(spark, pairs), max_iter=6).collect()
    }
    assert got == _louvain_model(pairs, 6)


def test_hyperball_harmonic_matches_model(spark):
    # exact replay: FM masks are pure integers, the float chain is the
    # same left-associated expression sequence in both implementations
    import hashlib

    from llama_spark.operators.anf import FM_PHI, hyperball_harmonic

    pairs = [(0, 1), (1, 2), (2, 3), (0, 4), (4, 3), (3, 5)]
    R, T = 8, 4

    def fm_bit(v, r):
        h = int(hashlib.md5(f"{v}:anf{r}".encode()).hexdigest()[:15], 16)
        f = h | (1 << 59)
        return f & -f

    def lowest_unset(m):
        b = 0
        while (m >> b) & 1:
            b += 1
        return b

    def est(ms):
        return 2.0 ** (sum(lowest_unset(m) for m in ms) / float(R)) / FM_PHI

    nodes = sorted({v for p in pairs for v in p})
    out_adj = {v: [d for s, d in pairs if s == v] for v in nodes}
    masks = {v: [fm_bit(v, r) for r in range(R)] for v in nodes}
    pe = {v: est(masks[v]) for v in nodes}
    h = {v: 0.0 for v in nodes}
    for t in range(1, T + 1):
        new = {}
        for v in nodes:
            ms = list(masks[v])
            for w in out_adj[v]:
                for r in range(R):
                    ms[r] |= masks[w][r]
            new[v] = ms
        masks = new
        for v in nodes:
            ne = est(masks[v])
            h[v] = h[v] + (ne - pe[v]) / float(t)
            pe[v] = ne
    model = {v: round(h[v], 6) for v in nodes}

    got = {
        r["id"]: r["harmonic"]
        for r in hyperball_harmonic(
            edges_df(spark, pairs), max_t=T, registers=R
        ).collect()
    }
    assert got == model
    # semantic sanity: the source 0 reaches everything, the sink 5 nothing
    assert got[0] > got[5] and got[5] == 0.0


def _multilevel_model(pairs, levels, rounds):
    from collections import defaultdict

    und = set()
    for a, b in pairs:
        if a != b:
            und.add((a, b))
            und.add((b, a))

    def run_rounds(sym_w, deg, m2, comm):
        adj = defaultdict(dict)
        for (a, b), w in sym_w.items():
            adj[a][b] = w
        for r in range(rounds):
            tot = defaultdict(int)
            for v in deg:
                tot[comm[v]] += deg[v]
            new = {}
            for v in deg:
                if (v + r) % 2 != 0:
                    new[v] = comm[v]
                    continue
                evc = defaultdict(int)
                for u, w in adj[v].items():
                    evc[comm[u]] += w
                evc[comm[v]] += 0
                best = None
                for c, e in sorted(evc.items()):
                    t = tot[c] - (deg[v] if c == comm[v] else 0)
                    key = (m2 * e - deg[v] * t, -c)
                    if best is None or key > best[0]:
                        best = (key, c)
                new[v] = best[1]
            comm = new
        return comm

    deg = defaultdict(int)
    for a, b in und:
        deg[a] += 1
    m2 = sum(deg.values())
    assign = run_rounds({e: 1 for e in und}, dict(deg), m2, {v: v for v in deg})
    for _ in range(levels - 1):
        K, W = defaultdict(int), defaultdict(int)
        for a, b in und:
            ca, cb = assign[a], assign[b]
            K[ca] += 1
            if ca != cb:
                W[(ca, cb)] += 1
        sc = run_rounds(dict(W), dict(K), m2, {c: c for c in K})
        assign = {v: sc[assign[v]] for v in assign}
    return assign


def test_louvain_multilevel_matches_model_and_improves_q(spark):
    import random

    from llama_spark.operators.components import (
        louvain_communities,
        louvain_multilevel,
        modularity,
    )

    rng = random.Random(3)
    pairs = []
    for base in (0, 20, 40, 60):
        mem = list(range(base, base + 20))
        for _ in range(55):
            a, b = rng.sample(mem, 2)
            pairs.append((a, b))
    for _ in range(15):
        a, b = rng.randrange(0, 80), rng.randrange(0, 80)
        if a != b:
            pairs.append((a, b))
    e = edges_df(spark, pairs)
    got = {
        r["id"]: r["comm"]
        for r in louvain_multilevel(e, levels=2, rounds_per_level=4).collect()
    }
    assert got == _multilevel_model(pairs, 2, 4)

    def q_of(df):
        return modularity(e, df.withColumnRenamed("comm", "label")).collect()[0][
            "modularity"
        ]

    q1 = q_of(louvain_communities(e, max_iter=4))
    q2 = q_of(louvain_multilevel(e, levels=2, rounds_per_level=4))
    assert q2 > q1  # contraction unlocks merges phase 1 cannot see


def test_louvain_resume_reproduces_uninterrupted_run(spark, tmp_path):
    # kill-and-resume == straight run (north-rule resumability); the
    # staged parity depends on the ROUND INDEX, so resume must restore it
    from llama_spark.operators.components import louvain_communities

    pairs = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3),
             (6, 7), (7, 8), (8, 6), (5, 6)]
    e = edges_df(spark, pairs)
    full = {r["id"]: r["comm"] for r in louvain_communities(e, max_iter=4).collect()}
    ck = str(tmp_path / "ck")
    louvain_communities(e, max_iter=2, checkpoint_dir=ck, checkpoint_every=2)
    resumed = {
        r["id"]: r["comm"]
        for r in louvain_communities(
            e, max_iter=4, checkpoint_dir=ck, checkpoint_every=2, resume=True
        ).collect()
    }
    assert resumed == full


def test_four_cycle_count_known_graphs(spark):
    from llama_spark.operators.triangles import four_cycle_count

    def n4(pairs):
        return four_cycle_count(edges_df(spark, pairs)).collect()[0]["four_cycles"]

    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    assert n4(square) == 1
    assert n4(square + [(0, 2)]) == 1   # a chord adds no 4-vertex cycle
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert n4(k4) == 3
    assert n4([(0, 1), (1, 2), (2, 0)]) == 0   # triangle has none
    # brute-force check on a small random graph
    import itertools
    import random

    rng = random.Random(11)
    pairs = list({(a, b) for a, b in (sorted(rng.sample(range(8), 2))
                  for _ in range(14))})
    pairs = [(a, b) for a, b in pairs]
    adj = {v: set() for v in range(8)}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    brute = 0
    for quad in itertools.combinations(range(8), 4):
        for perm in itertools.permutations(quad[1:]):
            cyc = (quad[0],) + perm
            if all(cyc[(i + 1) % 4] in adj[cyc[i]] for i in range(4)):
                brute += 1
    brute //= 2  # each cycle counted for 2 directions (fixed start = quad[0])
    assert n4(pairs) == brute


def test_louvain_weighted_matches_model(spark):
    # weighted gain with quantized integer weights ŵ = floor(w·128)+1;
    # exact replay of the staged rounds against a python model
    from collections import defaultdict

    from llama_spark.operators.components import louvain_communities

    wpairs = [(0, 1, 0.9), (1, 2, 0.1), (2, 0, 0.5), (2, 3, 1.7),
              (3, 4, 1.2), (4, 5, 0.05), (5, 3, 2.0), (1, 4, 0.3)]
    res = 128
    qw = {}
    for a, b, w in wpairs:
        key = (min(a, b), max(a, b))
        qw[key] = max(qw.get(key, 0.0), w)
    sym = {}
    for (a, b), w in qw.items():
        iw = int(w * res) + 1  # floor for positive values
        sym[(a, b)] = iw
        sym[(b, a)] = iw
    deg = defaultdict(int)
    for (a, _b), w in sym.items():
        deg[a] += w
    m2 = sum(deg.values())
    comm = {v: v for v in deg}
    rounds = 4
    adj = defaultdict(dict)
    for (a, b), w in sym.items():
        adj[a][b] = w
    for r in range(rounds):
        tot = defaultdict(int)
        for v in deg:
            tot[comm[v]] += deg[v]
        new = {}
        for v in deg:
            if (v + r) % 2 != 0:
                new[v] = comm[v]
                continue
            evc = defaultdict(int)
            for u, w in adj[v].items():
                evc[comm[u]] += w
            evc[comm[v]] += 0
            best = None
            for c, e in sorted(evc.items()):
                t = tot[c] - (deg[v] if c == comm[v] else 0)
                key = (m2 * e - deg[v] * t, -c)
                if best is None or key > best[0]:
                    best = (key, c)
            new[v] = best[1]
        comm = new

    e = edges_df(spark, wpairs, weight=True)
    got = {
        r["id"]: r["comm"]
        for r in louvain_communities(
            e, max_iter=rounds, weight_col="weight"
        ).collect()
    }
    assert got == comm


def test_hyperball_closeness_matches_model(spark):
    import hashlib

    from llama_spark.operators.anf import FM_PHI, hyperball_closeness

    pairs = [(0, 1), (1, 2), (2, 3), (0, 4), (4, 3), (3, 5)]
    R, T = 8, 4

    def fm_bit(v, r):
        h = int(hashlib.md5(f"{v}:anf{r}".encode()).hexdigest()[:15], 16)
        f = h | (1 << 59)
        return f & -f

    def lowest_unset(m):
        b = 0
        while (m >> b) & 1:
            b += 1
        return b

    def est(ms):
        return 2.0 ** (sum(lowest_unset(m) for m in ms) / float(R)) / FM_PHI

    nodes = sorted({v for p in pairs for v in p})
    out_adj = {v: [d for s, d in pairs if s == v] for v in nodes}
    masks = {v: [fm_bit(v, r) for r in range(R)] for v in nodes}
    pe = {v: est(masks[v]) for v in nodes}
    s = {v: 0.0 for v in nodes}
    for t in range(1, T + 1):
        new = {}
        for v in nodes:
            ms = list(masks[v])
            for w in out_adj[v]:
                for r in range(R):
                    ms[r] |= masks[w][r]
            new[v] = ms
        masks = new
        for v in nodes:
            ne = est(masks[v])
            s[v] = s[v] + (ne - pe[v]) * float(t)
            pe[v] = ne
    model = {
        v: (round((pe[v] - 1.0) / s[v], 6) if s[v] > 0.0 else 0.0) for v in nodes
    }
    got = {
        r["id"]: r["closeness"]
        for r in hyperball_closeness(
            edges_df(spark, pairs), max_t=T, registers=R
        ).collect()
    }
    assert got == model
    assert got[5] == 0.0  # sink reaches nothing


def test_hyperball_eccentricity_chain(spark):
    # directed chain 0→1→2→3→4: ball of node v keeps growing until it
    # swallows the tail — ecc(v) = 4 − v exactly (sketches are exact on
    # sets this small); sink ecc = 0
    from llama_spark.operators.anf import hyperball_eccentricity

    e = edges_df(spark, [(i, i + 1) for i in range(4)])
    got = {
        r["id"]: r["eccentricity"]
        for r in hyperball_eccentricity(e, max_t=6).collect()
    }
    # FM sketches can under-estimate growth on tiny sets, but on a chain
    # each step adds exactly one node whose mask bit is new with high
    # probability; assert the structural properties that must hold
    assert got[4] == 0
    assert got[0] >= got[1] >= got[2] >= got[3] >= got[4]
    assert got[0] >= 1


def test_rich_club_star_plus_core(spark):
    from llama_spark.operators import triangles  # noqa: F401  (import sanity)
    from llama_spark.graph import rich_club

    # K4 core {0,1,2,3} + leaves hanging off node 0 → degrees: 0:7, 1-3:3,
    # leaves:1. φ(1): nodes with d>1 = {0,1,2,3}, edges among them = 6 →
    # 2·6/(4·3) = 1.0; φ(4): only node 0 → 0.0
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pairs += [(0, 10 + i) for i in range(4)]
    got = {r["k"]: r for r in rich_club(edges_df(spark, pairs), ks=(1, 4)).collect()}
    assert got[1]["n_rich"] == 4 and got[1]["e_rich"] == 6
    assert abs(got[1]["phi"] - 1.0) < 1e-9
    assert got[4]["n_rich"] == 1 and got[4]["phi"] == 0.0


def test_salsa_matches_model_and_conserves_mass(spark):
    from collections import defaultdict

    from llama_spark.operators.hits import salsa

    pairs = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 0), (1, 3), (4, 2)]
    iters = 6
    srcs = sorted({a for a, _ in pairs})
    od = defaultdict(int)
    idg = defaultdict(int)
    for a, b in pairs:
        od[a] += 1
        idg[b] += 1
    hub = {v: 1.0 / len(srcs) for v in srcs}
    auth = {}
    for _ in range(iters):
        auth = defaultdict(float)
        for a, b in pairs:
            auth[b] += hub.get(a, 0.0) / od[a]
        new_hub = defaultdict(float)
        for a, b in pairs:
            new_hub[a] += auth[b] / idg[b]
        hub = new_hub
    got = {r["id"]: (r["auth"], r["hub"]) for r in salsa(
        edges_df(spark, pairs), max_iter=iters).collect()}
    for v in got:
        assert abs(got[v][0] - auth.get(v, 0.0)) < 1e-12
        assert abs(got[v][1] - hub.get(v, 0.0)) < 1e-12
    # row-stochastic transfers conserve mass exactly: each side sums to 1
    assert abs(sum(a for a, _ in got.values()) - 1.0) < 1e-9
    assert abs(sum(h for _, h in got.values()) - 1.0) < 1e-9


def test_four_cycle_hub_cap_lower_bound(spark):
    from llama_spark.operators.triangles import four_cycle_count

    # square {0,1,2,3} + hub 9 connected to everything: the hub creates
    # C(4,2)=6 extra middle pairs and sits on many cycles
    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    hub = [(9, v) for v in range(4)]
    exact = four_cycle_count(edges_df(spark, square + hub)).collect()[0][
        "four_cycles"
    ]
    capped = four_cycle_count(
        edges_df(spark, square + hub), hub_cap=3
    ).collect()[0]["four_cycles"]
    assert capped <= exact
    # the hub (degree 4) is excluded as a middle AND as a corner of
    # surviving diagonals; the pure square survives intact
    assert capped >= 1
    # no hubs → the cap is a no-op
    assert (
        four_cycle_count(edges_df(spark, square), hub_cap=10).collect()[0][
            "four_cycles"
        ]
        == 1
    )


def test_walk_visit_counts_seeded_subset(spark):
    from llama_spark.operators.walks import random_walks, walk_visit_counts

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 0)]
    e = edges_df(spark, pairs)
    seeds = [0, 2, 5]
    # seeded walks are EXACTLY the seed-filtered subset of the full corpus
    full = {(r["walk_id"], r["step"], r["node"])
            for r in random_walks(e, walk_length=3).collect()
            if r["walk_id"] in seeds}
    seeded = {(r["walk_id"], r["step"], r["node"])
              for r in random_walks(e, walk_length=3, sources=seeds).collect()}
    assert seeded == full
    got = {r["node"]: (r["visits"], r["ppr_estimate"])
           for r in walk_visit_counts(e, sources=seeds, walk_length=3).collect()}
    total = sum(v for v, _ in got.values())
    assert total == len(full)
    from collections import Counter

    model = Counter(n for _, _, n in full)
    for node, (v, est) in got.items():
        assert v == model[node]
        assert abs(est - round(v / total, 6)) < 1e-12
