"""The benchmark's reference results against plain-Python definitions on a
graph of at most 1k nodes.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
from collections import defaultdict

import networkx as nx
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import reference as ref  # noqa: E402
from llama_spark.sources.pages import rmat_endpoints  # noqa: E402

SCALE = 9  # 512 ids


def graph(seed=3):
    src, dst = rmat_endpoints(np.arange((1 << SCALE) * 4, dtype=np.int64), SCALE, seed=seed)
    return ref.simple_edges(src, dst)


def test_simple_edges_drops_loops_and_duplicates():
    s, d = ref.simple_edges(np.array([1, 1, 2, 3, 3]), np.array([2, 2, 2, 1, 4]))
    assert list(zip(s, d)) == [(1, 2), (3, 1), (3, 4)]


def test_pagerank_matches_loop_with_lost_dangling_mass():
    src, dst = graph()
    nodes = sorted(set(src) | set(dst))
    out = defaultdict(list)
    for u, v in zip(src, dst):
        out[u].append(v)
    n, rank = len(nodes), {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(7):
        nxt = {v: 0.15 / n for v in nodes}
        for u, targets in out.items():
            for v in targets:
                nxt[v] += 0.85 * rank[u] / len(targets)
        rank = nxt
    got = ref.pagerank(src, dst, 7)
    assert len(nodes) <= 1000 and got.sum() < 1.0  # dangling mass is lost
    want = pd.Series(rank)
    assert ref.same_values(got, want, rtol=1e-12)


def test_components_match_networkx():
    src, dst = graph()
    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    want = pd.Series({v: min(c) for c in nx.connected_components(g) for v in c})
    got = ref.components(src, dst)
    assert ref.same_values(got, want)
    assert got.nunique() > 1


def test_components_of_a_path_need_many_rounds():
    n = 300
    src, dst = np.arange(1, n), np.arange(0, n - 1)  # edges point down a path
    assert (ref.components(src[::-1], dst[::-1]) == 0).all()


def test_same_values_rejects_other_ids_and_values():
    a = pd.Series([1.0, 2.0], index=[0, 1])
    assert ref.same_values(a, pd.Series([2.0, 1.0], index=[1, 0]))  # order-free
    assert not ref.same_values(a, pd.Series([1.0, 2.0], index=[0, 2]))
    assert not ref.same_values(a, pd.Series([1.0, 2.5], index=[0, 1]))
    assert ref.same_values(a, a * (1 + 1e-12), rtol=1e-9)


def test_page_links_parse_anchor_targets_once():
    html = (b'<html><body><a href="https://d0.example.org/p/1">x</a>'
            b'<a class="c" href="https://d1.example.org/p/2">y</a>'
            b'<a href="https://d0.example.org/p/1">again</a></body></html>')
    links = ref.page_links(["https://d0.example.org/p/0"], [html])
    assert sorted(links["dst_url"]) == ["https://d0.example.org/p/1", "https://d1.example.org/p/2"]
