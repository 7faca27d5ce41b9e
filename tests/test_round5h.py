"""Round-5 batch: spectral bisection (Fiedler vector), DSIR importance
weights, PII scrubbing, anchor-text extraction."""

from __future__ import annotations

import math

from tests.conftest import edges_df


# ---- Fiedler vector / spectral bisection ----


def _barbell(n: int = 5) -> list[tuple[int, int]]:
    """Two K_n cliques {0..n-1} and {n..2n-1} joined by one bridge edge."""
    e = [(a, b) for a in range(n) for b in range(n) if a < b]
    e += [(a + n, b + n) for a in range(n) for b in range(n) if a < b]
    e.append((n - 1, n))
    return e


def test_fiedler_separates_barbell(spark):
    from llama_spark.operators.spectral import fiedler_vector

    rows = fiedler_vector(edges_df(spark, _barbell(5)), max_iter=40).collect()
    side = {r["id"]: r["fiedler"] >= 0 for r in rows}
    left = {side[i] for i in range(5)}
    right = {side[i] for i in range(5, 10)}
    # each clique lands entirely on one side, and the sides differ
    assert len(left) == 1 and len(right) == 1 and left != right
    # unit L2 norm (normalized every iteration)
    norm = math.sqrt(sum(r["fiedler"] ** 2 for r in rows))
    assert abs(norm - 1.0) < 1e-9
    # deflation: orthogonal to the all-ones vector
    assert abs(sum(r["fiedler"] for r in rows)) < 1e-9
    # sign canonicalization: the largest-|x| entry is non-negative
    assert max((abs(r["fiedler"]), r["fiedler"]) for r in rows)[1] >= 0


def test_spectral_cut_barbell_conductance(spark):
    from llama_spark.operators.spectral import spectral_cut_summary

    row = spectral_cut_summary(edges_df(spark, _barbell(5)), max_iter=40).head()
    # the spectral cut is the single bridge edge
    assert row["cut_edges"] == 1
    # each side: K5 degrees 4*4 + bridge endpoint 5 → vol 21
    assert row["vol_small"] == 21.0
    # conductance counts directed (und) crossing edges: 2/21
    assert row["conductance"] == round(2 / 21.0, 6)


def test_fiedler_path_monotone(spark):
    from llama_spark.operators.spectral import fiedler_vector

    # Fiedler vector of a path graph is monotone along the path
    rows = fiedler_vector(
        edges_df(spark, [(i, i + 1) for i in range(8)]), max_iter=60
    ).collect()
    xs = [r["fiedler"] for r in sorted(rows, key=lambda r: r["id"])]
    diffs = [b - a for a, b in zip(xs, xs[1:])]
    assert all(d > 0 for d in diffs) or all(d < 0 for d in diffs)


def test_py_sqrt_matches_spark_null_semantics():
    from llama_spark.operators.spectral import _py_sqrt

    # Spark's sqrt turns NULL input and any NaN result into NULL
    assert _py_sqrt(None) is None
    assert _py_sqrt(-1.0) is None
    assert _py_sqrt(float("nan")) is None
    assert _py_sqrt(4.0) == 2.0
    assert _py_sqrt(2.0) == math.sqrt(2.0)


# ---- DSIR importance weights ----


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dsir_weights_match_hand_model(spark):
    import hashlib
    import math

    from llama_spark.functions.text import dsir_weights

    rows = [
        (1, "alpha alpha beta", "en"),
        (2, "alpha gamma", "en"),
        (3, "gamma gamma delta", "de"),
        (4, "beta delta delta", "de"),
    ]
    B = 512

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    cr, ct = {}, {}
    for _, text, lang in rows:
        for tok in text.split():
            b = bucket(tok)
            cr[b] = cr.get(b, 0) + 1
            if lang == "en":
                ct[b] = ct.get(b, 0) + 1
    nr, nt = sum(cr.values()), sum(ct.values())
    lr = {
        b: math.log((ct.get(b, 0) + 1.0) / (nt + B))
        - math.log((cr[b] + 1.0) / (nr + B))
        for b in cr
    }
    expected = {
        doc_id: round(sum(lr[bucket(t)] for t in text.split()), 6)
        for doc_id, text, _ in rows
    }
    got = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_weights(_docs(spark, rows), buckets=B).collect()
    }
    assert got == expected
    # target-lang docs score higher than off-target docs sharing no tokens
    assert got[1] > got[3] and got[2] > got[3]


# ---- PII scrubbing ----


def test_pii_scrub_redacts_and_counts(spark):
    from llama_spark.functions.text import pii_scrub

    rows = [
        (1, "contact bob@example.com or 555-123-4567 via 10.0.0.1 now", "en"),
        (2, "no pii here just words", "en"),
        (3, "two mails a@b.io c.d@e-f.org and ip 192.168.1.255", "en"),
    ]
    got = {r["doc_id"]: r for r in pii_scrub(_docs(spark, rows)).collect()}
    assert (got[1]["n_emails"], got[1]["n_ips"], got[1]["n_phones"]) == (1, 1, 1)
    assert got[1]["scrubbed"] == "contact <EMAIL> or <PHONE> via <IP> now"
    assert (got[2]["n_emails"], got[2]["n_ips"], got[2]["n_phones"]) == (0, 0, 0)
    assert got[2]["scrubbed"] == rows[1][1]
    assert got[3]["n_emails"] == 2 and got[3]["n_ips"] == 1
    assert got[3]["scrubbed"] == "two mails <EMAIL> <EMAIL> and ip <IP>"


# ---- Spinner balanced partitioning ----


def test_spinner_partition_separates_barbell(spark):
    from llama_spark.operators.partition import spinner_partition

    rows = spinner_partition(edges_df(spark, _barbell(5)), k=2, rounds=8).collect()
    part = {r["id"]: r["part"] for r in rows}
    assert set(part.values()) <= {0, 1}
    left = {part[i] for i in range(5)}
    right = {part[i] for i in range(5, 10)}
    # each clique coheres; the balance penalty forces the cliques apart
    assert len(left) == 1 and len(right) == 1 and left != right


def test_partition_quality_barbell(spark):
    from llama_spark.operators.partition import partition_quality

    row = partition_quality(edges_df(spark, _barbell(5)), k=2, rounds=8).head()
    # cut = the bridge (2 und directions) out of 42 und edges
    assert row["cut_frac"] == round(2 / 42.0, 6)
    assert row["n_parts_used"] == 2
    assert row["max_load"] == 21 and row["min_load"] == 21
    assert row["imbalance"] == 1.0


def test_spinner_partition_covers_all_nodes(spark):
    from llama_spark.operators.partition import spinner_partition

    e = [(i, (i * 7 + 1) % 50) for i in range(50) if i != (i * 7 + 1) % 50]
    rows = spinner_partition(edges_df(spark, e), k=4, rounds=5).collect()
    ids = {r["id"] for r in rows}
    expect = {a for a, _ in e} | {b for _, b in e}
    assert ids == expect
    assert all(0 <= r["part"] < 4 for r in rows)


# ---- trained quality classifier ----


def test_quality_classifier_matches_hand_gd(spark):
    import math

    from llama_spark.functions.classify import quality_classifier
    from llama_spark.functions.text import STOPWORDS

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "a stitch in time saves nine and more", "en"),
        (3, "der schnelle braune fuchs springt sehr hoch", "de"),
        (4, "le renard brun rapide saute par dessus", "fr"),
        (5, "the the the the repeated words words words", "en"),
    ]
    stop = set(STOPWORDS)
    feats = {}
    for doc_id, text, lang in rows:
        toks = text.lower().split()
        n = len(toks)
        feats[doc_id] = (
            [
                n / 100.0,
                sum(len(t) for t in toks) / n,
                sum(t in stop for t in toks) / n,
                len(set(toks)) / n,
            ],
            1.0 if lang == "en" else 0.0,
        )
    w = [0.0] * 5
    for _ in range(8):
        g = [0.0] * 5
        for x, y in feats.values():
            z = w[0] + sum(w[j + 1] * x[j] for j in range(4))
            e = 1.0 / (1.0 + math.exp(-z)) - y
            g[0] += e
            for j in range(4):
                g[j + 1] += e * x[j]
        w = [w[j] - g[j] / len(feats) for j in range(5)]
    expected = {}
    for doc_id, (x, _y) in feats.items():
        z = w[0] + sum(w[j + 1] * x[j] for j in range(4))
        p = 1.0 / (1.0 + math.exp(-z))
        expected[doc_id] = (round(p, 6), p >= 0.5)

    got = {
        r["doc_id"]: (r["prob"], r["keep"])
        for r in quality_classifier(_docs(spark, rows)).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k][0] - expected[k][0]) < 1e-6, (k, got[k], expected[k])
        assert got[k][1] == expected[k][1]
    # direction check: after 8 steps the filter ranks target-lang docs
    # above off-target docs on average (full separation needs more steps
    # than this fixed-budget toy run)
    en = [got[k][0] for k in (1, 2, 5)]
    off = [got[k][0] for k in (3, 4)]
    assert sum(en) / len(en) > sum(off) / len(off)


# ---- HyperLogLog sketch ----


def test_hll_matches_hand_registers(spark):
    import hashlib
    import math

    from llama_spark.functions.sketch import HLL_ALPHA, HLL_P, hll_distinct_tokens

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en"),
        (2, "alpha beta eta theta iota kappa", "en"),
        (3, "gamma delta lambda mu nu xi", "de"),
    ]
    m = 1 << HLL_P
    regs: dict[int, int] = {}
    toks = [t for _, text, _ in rows for t in text.lower().split()]
    for tok in toks:
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        b, w = h & (m - 1), h >> HLL_P
        rho = (60 - HLL_P + 1) if w == 0 else (60 - HLL_P + 1) - w.bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    s = sum(2.0 ** -v for v in regs.values())
    cnt = len(regs)
    z_inv = s + (m - cnt)
    e_raw = (HLL_ALPHA * m * m) / z_inv
    if e_raw <= 2.5 * m and (m - cnt) > 0:
        e = m * math.log(m / float(m - cnt))
    else:
        e = e_raw
    exact = len(set(toks))
    expected = (cnt, round(e, 4), exact, round(abs(round(e, 4) - exact) / exact, 4))

    row = hll_distinct_tokens(_docs(spark, rows)).head()
    got = (row["n_registers"], row["hll_est"], row["exact_distinct"], row["rel_err"])
    assert got == expected
    # small-range regime: linear counting keeps the estimate near exact
    assert abs(row["hll_est"] - exact) / exact < 0.05


# ---- 2-D spectral embedding ----


def test_spectral_embedding_orthonormal_and_harmonics(spark):
    import math

    from llama_spark.operators.spectral import spectral_embedding2

    rows = spectral_embedding2(
        edges_df(spark, [(i, i + 1) for i in range(11)]), max_iter=80
    ).collect()
    rows.sort(key=lambda r: r["id"])
    e1 = [r["e1"] for r in rows]
    e2 = [r["e2"] for r in rows]
    # orthonormal pair, both orthogonal to 1
    assert abs(math.sqrt(sum(v * v for v in e1)) - 1.0) < 1e-9
    assert abs(math.sqrt(sum(v * v for v in e2)) - 1.0) < 1e-9
    assert abs(sum(a * b for a, b in zip(e1, e2))) < 1e-9
    assert abs(sum(e1)) < 1e-9 and abs(sum(e2)) < 1e-9
    # path-graph harmonics: the Fiedler direction changes sign once,
    # the next eigendirection twice
    def sign_changes(xs):
        return sum(1 for a, b in zip(xs, xs[1:]) if a * b < 0)

    assert sign_changes(e1) == 1
    assert sign_changes(e2) == 2


def test_spectral_embedding_e1_matches_fiedler(spark):
    from llama_spark.operators.spectral import fiedler_vector, spectral_embedding2

    e = edges_df(spark, _barbell(4))
    emb = {r["id"]: r["e1"] for r in spectral_embedding2(e, max_iter=30).collect()}
    fv = {r["id"]: r["fiedler"] for r in fiedler_vector(e, max_iter=30).collect()}
    # identical recurrence for the first coordinate → same vector
    assert all(abs(emb[k] - fv[k]) < 1e-9 for k in fv)


# ---- topic-sensitive PageRank ----


def test_topic_pagerank_columns_match_personalized(spark):
    from pyspark.sql import functions as F

    from llama_spark.operators.pagerank import (
        personalized_pagerank,
        topic_sensitive_pagerank,
    )

    e = edges_df(
        spark,
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 5), (5, 0)],
    )
    out = {
        r["id"]: r
        for r in topic_sensitive_pagerank(
            e, topic_of=F.when(F.col("id") % 3 < 2, F.col("id") % 3),
            n_topics=2, max_iter=12,
        ).collect()
    }
    ids = sorted(out)
    for t, seeds in ((0, [0, 3]), (1, [1, 4])):
        solo = {
            r["id"]: r["rank"]
            for r in personalized_pagerank(e, sources=seeds, max_iter=12).collect()
        }
        for i in ids:
            assert abs(out[i][f"r{t}"] - solo[i]) < 1e-12, (t, i)


def test_topic_pagerank_raises_on_empty_topic(spark):
    import pytest
    from pyspark.sql import functions as F

    from llama_spark.operators.pagerank import topic_sensitive_pagerank

    e = edges_df(spark, [(0, 1), (1, 0)])
    with pytest.raises(ValueError):
        topic_sensitive_pagerank(
            e, topic_of=F.when(F.col("id") == 0, F.lit(0)), n_topics=2, max_iter=2
        )


# ---- normalized-Laplacian Fiedler ----


def test_fiedler_normalized_barbell_and_invariants(spark):
    import math

    from llama_spark.operators.spectral import fiedler_vector_normalized

    rows = fiedler_vector_normalized(edges_df(spark, _barbell(5)), max_iter=40).collect()
    side = {r["id"]: r["nfiedler"] >= 0 for r in rows}
    assert len({side[i] for i in range(5)}) == 1
    assert len({side[i] for i in range(5, 10)}) == 1
    assert side[0] != side[9]
    # unit L2 norm; orthogonal to D^{1/2}·1 (the normalized nullvector)
    assert abs(math.sqrt(sum(r["nfiedler"] ** 2 for r in rows)) - 1.0) < 1e-9
    dot = sum(r["nfiedler"] * math.sqrt(r["d"]) for r in rows)
    assert abs(dot) < 1e-9


# ---- partition-count invariance (cross-validate -C analog) ----


def test_spinner_partition_count_invariance(spark):
    from llama_spark.operators.partition import spinner_partition

    e = edges_df(spark, _barbell(6) + [(2, 8), (3, 10)])
    a = {
        r["id"]: r["part"]
        for r in spinner_partition(e, k=3, rounds=4, num_partitions=2).collect()
    }
    b = {
        r["id"]: r["part"]
        for r in spinner_partition(e, k=3, rounds=4, num_partitions=16).collect()
    }
    # exact-integer scores → labels independent of physical partitioning
    assert a == b


def test_topic_pagerank_partition_count_stable(spark):
    from pyspark.sql import functions as F

    from llama_spark.operators.pagerank import topic_sensitive_pagerank

    e = edges_df(spark, [(i, (i * 3 + 1) % 20) for i in range(20)])
    kw = dict(
        topic_of=F.when(F.col("id") % 5 < 2, F.col("id") % 5),
        n_topics=2,
        max_iter=6,
    )
    a = {r["id"]: (r["r0"], r["r1"])
         for r in topic_sensitive_pagerank(e, num_partitions=2, **kw).collect()}
    b = {r["id"]: (r["r0"], r["r1"])
         for r in topic_sensitive_pagerank(e, num_partitions=16, **kw).collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k][0] - b[k][0]) < 1e-12 and abs(a[k][1] - b[k][1]) < 1e-12
