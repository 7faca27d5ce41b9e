"""Independent reference results for the benchmark's output checks.

Everything here runs in the Spark driver process in numpy and pandas,
never in Spark jobs, and outside every timed region. Edge inputs are two
int64 arrays ``src, dst`` of a simple directed graph (no duplicate pairs,
no self loops); the node set is every id seen on either endpoint, as in
``llama_spark.graph.nodes_of``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

HREF_RE = re.compile(rb'<a\s[^>]*href="([^"]*)"')


def simple_edges(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (src, dst) pairs without self loops, sorted."""
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    return pairs[:, 0].astype(np.int64), pairs[:, 1].astype(np.int64)


def _index(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(src, dst, iters: int, damping: float = 0.85) -> pd.Series:
    """Power iteration from 1/N with the reference's ``dangling="lost"``
    rule: a node without out-edges passes nothing on."""
    ids, s, d = _index(src, dst)
    n = len(ids)
    inv = 1.0 / np.bincount(s, minlength=n)[s]
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(d, weights=rank[s] * inv, minlength=n)
        rank = (1.0 - damping) / n + damping * contrib
    return pd.Series(rank, index=ids)


def components(src, dst) -> pd.Series:
    """Undirected connected components labelled by their smallest id."""
    ids, s, d = _index(src, dst)
    label = np.arange(len(ids))
    while True:
        new = label.copy()
        np.minimum.at(new, s, label[d])
        np.minimum.at(new, d, label[s])
        new = new[new]  # pointer jumping: labels only ever point lower
        if np.array_equal(new, label):
            return pd.Series(ids[label], index=ids)
        label = new


def page_links(urls, htmls) -> pd.DataFrame:
    """Distinct (src_url, dst_url) anchor links of a pages table."""
    rows = [
        (u, target.decode("utf-8", errors="replace"))
        for u, h in zip(urls, htmls)
        for target in HREF_RE.findall(bytes(h))
    ]
    return pd.DataFrame(rows, columns=["src_url", "dst_url"]).drop_duplicates()


def same_values(got: pd.Series, want: pd.Series, rtol: float = 0.0) -> bool:
    """Same index set and values (exactly, or within ``rtol``)."""
    if len(got) != len(want) or not got.index.sort_values().equals(want.index.sort_values()):
        return False
    g = got.reindex(want.index).to_numpy()
    if rtol:
        return bool(np.allclose(g, want.to_numpy(), rtol=rtol, atol=0.0))
    return bool(np.array_equal(g, want.to_numpy()))
