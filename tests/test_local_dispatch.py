"""Whole-graph local-kernel dispatch (r06 optimization).

Small graphs (m ≤ LIGRA_LOCAL_GRAPH_EDGES) route the iterative
fixpoints through the closed.py kernels over a single-partition view
(graph.local_view()); ``algorithms._tier.resolve_tier`` decides. These
tests pin: (1) the dispatch produces results identical to the
distributed fixpoints it replaces, (2) the env kill-switch (=0) really
forces the distributed path."""

from __future__ import annotations

import math

import pytest

from conftest import CHAIN_64, STAR_HUB, TWO_COMPONENTS


@pytest.fixture()
def no_local(monkeypatch):
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")


def _rank_map(df):
    return {r["id"]: r["rank"] for r in df.collect()}


@pytest.mark.parametrize("edges", [CHAIN_64, STAR_HUB, TWO_COMPONENTS])
def test_pagerank_local_matches_generic(mk_graph, monkeypatch, edges):
    from ligra_spark.algorithms import pagerank

    g = mk_graph(edges)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    want = _rank_map(pagerank(g, max_iters=10))
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "1000000")
    got = _rank_map(pagerank(g, max_iters=10))
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-12)


def test_cc_local_matches_generic(mk_graph, monkeypatch):
    from ligra_spark.algorithms import connected_components

    g = mk_graph(TWO_COMPONENTS + [(40, 41), (41, 40)])
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    want = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "1000000")
    got = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    assert got == want


def test_lp_local_matches_generic(mk_graph, monkeypatch):
    from ligra_spark.algorithms import label_propagation

    g = mk_graph(TWO_COMPONENTS)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    want = {r["id"]: r["label"] for r in label_propagation(g, max_iters=5).collect()}
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "1000000")
    got = {r["id"]: r["label"] for r in label_propagation(g, max_iters=5).collect()}
    assert got == want


def test_triangle_local_matches_generic(mk_graph, monkeypatch):
    from ligra_spark.algorithms import triangle_count

    edges = TWO_COMPONENTS + CHAIN_64
    g = mk_graph(edges, dedupe=True)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    want = triangle_count(g)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "1000000")
    got = triangle_count(g)
    assert got == want  # K5 → 10, K7 → 35


def test_asymmetric_cc_never_dispatches(mk_graph):
    """symmetrize=False on a directed graph must keep the generic path
    (the local kernel is direction-agnostic, i.e. undirected)."""
    from ligra_spark.algorithms import connected_components

    g = mk_graph([(1, 2), (3, 2)])
    out = {r["id"]: r["comp"] for r in
           connected_components(g, symmetrize=False).collect()}
    # directed hash-min: 2 receives min(1, 3) = 1; 1 and 3 keep selves
    assert out == {1: 1, 2: 1, 3: 3}


def test_dispatch_threshold_respects_env(mk_graph, monkeypatch):
    from ligra_spark.algorithms._tier import resolve_tier

    g = mk_graph(CHAIN_64)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    assert resolve_tier(g, "pagerank").tier == "distributed"
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "63")
    assert resolve_tier(g, "pagerank").tier == "local"
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "62")
    assert resolve_tier(g, "pagerank").tier == "distributed"


def test_triangle_parallel_local_random_graph(mk_graph, monkeypatch):
    """The parallel local triangle path (driver-side orientation +
    broadcast wedge probe, r06) must match the distributed wedge-join
    plan on a messy graph: duplicate edges, self-loops, skewed hub,
    multiple wedge-balanced chunks."""
    import random

    from ligra_spark.algorithms import triangle_count

    rnd = random.Random(23)
    edges = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(900)]
    edges += [(7, 7), (3, 3)]                 # self-loops
    edges += edges[:50]                       # duplicates
    edges += [(0, i) for i in range(1, 40)]   # hub skew
    g = mk_graph(edges, dedupe=True)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    want = triangle_count(g)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "1000000")
    got = triangle_count(g)
    assert got == want > 0
