"""Unit-capacity max-flow / min-cut vs an in-test Edmonds–Karp model
with the EXACT same tie-breaks (min-parent BFS, unit augmentation)."""

from __future__ import annotations

from collections import defaultdict

import pytest

from llama_spark.operators.flow import max_flow_summary, max_flow_unit
from tests.conftest import edges_df, rmat_edges


def _model(pairs, s, t, max_augment=8, caps=None):
    cap = defaultdict(int)
    for u, v in pairs:
        if u != v:
            cap[(u, v)] = 1 if caps is None else caps[(u, v)]
    orig = dict(cap)
    flow = 0
    while True:
        adj = defaultdict(list)
        for (a, b), c in cap.items():
            if c > 0:
                adj[a].append(b)
        parent = {s: None}
        frontier = [s]
        while frontier and t not in parent:
            new = set()
            for u in frontier:
                for v in adj[u]:
                    if v not in parent:
                        new.add(v)
            for v in sorted(new):
                parent[v] = min(u for u in frontier if v in adj[u])
            frontier = sorted(new)
        if t not in parent:
            S = set(parent)
            cut = {
                (a, b)
                for (a, b) in {p for p in pairs if p[0] != p[1]}
                if a in S and b not in S
            }
            return flow, True, S, cut, sum(orig[e] for e in cut)
        if flow >= max_augment:
            return flow, False, set(parent), None, None
        path = []
        v = t
        while parent[v] is not None:
            path.append((parent[v], v))
            v = parent[v]
        b = min(cap[e] for e in path)
        for (a, c) in path:
            cap[(a, c)] -= b
            cap[(c, a)] += b
        flow += b


GRAPHS = {
    # two edge-disjoint paths + a chord
    "diamond": ([(0, 1), (0, 2), (1, 3), (2, 3), (1, 2)], 0, 3),
    # bottleneck bridge in the middle
    "bridge": ([(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 7), (6, 7)], 0, 7),
    # sink unreachable
    "disconnected": ([(0, 1), (1, 2), (5, 6)], 0, 6),
    # anti-parallel pair (residual reverse edge stacks on a real edge)
    "antiparallel": ([(0, 1), (1, 0), (1, 2), (0, 2), (2, 1), (2, 3), (1, 3)], 0, 3),
    # wide: 4 parallel 2-hop paths
    "parallel4": (
        [(0, i) for i in range(1, 5)] + [(i, 5) for i in range(1, 5)],
        0,
        5,
    ),
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_max_flow_matches_model(spark, name):
    pairs, s, t = GRAPHS[name]
    df = spark.createDataFrame(pairs, "src long, dst long")
    want_flow, want_conv, want_S, want_cut, _ = _model(pairs, s, t)
    r = max_flow_unit(df, s, t)
    assert r.flow == want_flow
    assert r.converged == want_conv
    assert {x["id"] for x in r.s_side.collect()} == want_S
    got_cut = {(x["src"], x["dst"]) for x in r.cut_edges.collect()}
    assert got_cut == want_cut
    if want_conv:
        assert len(got_cut) == want_flow  # Menger / max-flow-min-cut


def test_max_flow_budget_cap(spark):
    """parallel4 has flow 4; max_augment=2 must stop at 2, unconverged."""
    pairs, s, t = GRAPHS["parallel4"]
    df = spark.createDataFrame(pairs, "src long, dst long")
    r = max_flow_unit(df, s, t, max_augment=2)
    assert r.flow == 2 and not r.converged


def test_max_flow_summary_row(spark):
    pairs, s, t = GRAPHS["bridge"]
    df = spark.createDataFrame(pairs, "src long, dst long")
    row = max_flow_summary(df, s, t).collect()[0]
    # the 3→4 bridge is the unique min cut
    assert row["max_flow"] == 1 and row["converged"]
    assert row["cut_edges"] == 1 and row["s_side"] == 4


def _hashcap(u, v):
    return 1 + (u * 31 + v) % 4


@pytest.mark.parametrize("name", ["diamond", "bridge", "parallel4", "antiparallel"])
def test_weighted_max_flow_matches_model(spark, name):
    pairs, s, t = GRAPHS[name]
    caps = {(u, v): _hashcap(u, v) for u, v in pairs if u != v}
    df = spark.createDataFrame(
        [(u, v, caps[(u, v)]) for u, v in pairs if u != v],
        "src long, dst long, cap long",
    )
    want_flow, want_conv, want_S, want_cut, want_cutcap = _model(
        pairs, s, t, caps=caps
    )
    r = max_flow_unit(df, s, t, capacity_col="cap")
    assert r.flow == want_flow and r.converged == want_conv
    assert {x["id"] for x in r.s_side.collect()} == want_S
    got = {(x["src"], x["dst"]): x["cap"] for x in r.cut_edges.collect()}
    assert set(got) == want_cut
    assert sum(got.values()) == want_cutcap == want_flow  # weighted Menger


def test_weighted_summary_has_cut_capacity(spark):
    pairs, s, t = GRAPHS["parallel4"]
    df = spark.createDataFrame(
        [(u, v, _hashcap(u, v)) for u, v in pairs], "src long, dst long, cap long"
    )
    row = max_flow_summary(df, s, t, capacity_col="cap").collect()[0]
    assert row["converged"] and row["max_flow"] == row["cut_capacity"]
    assert row["cut_edges"] == 4  # the four source out-edges


def test_cut_edges_plan_has_no_sort_merge_join(spark):
    """``cut_edges`` reads the original edges and the reach set from their
    checkpoint blocks after the scope exits; its joins take their side
    from the reach set's row count, not the blocks' size estimate."""
    pairs = sorted({(s, d) for s, d in rmat_edges(scale=8, avg_degree=4, seed=11)})
    r = max_flow_unit(edges_df(spark, pairs), 0, 198)
    plan = r.cut_edges._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert r.cut_edges.count() == r.flow
