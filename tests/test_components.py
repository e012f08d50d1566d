"""Connected components + label propagation + triangles: exact parity
vs oracles (BASELINE.json: components/triangles/labels exact)."""

from __future__ import annotations

import random

import pytest

from conftest import CHAIN_64, K4, SELF_LOOPS_DUPS, STAR_HUB, TWO_COMPONENTS
from ligra_spark.algorithms import (
    connected_components,
    kcore,
    label_propagation,
    triangle_count,
    triangles_per_vertex,
)
from oracles import (
    components_oracle,
    directed_components_oracle,
    kcore_oracle,
    label_propagation_oracle,
    triangle_count_oracle,
)


def _cc_check(mk_graph, edges, **kw):
    """Both tiers against the oracle. These graphs sit under the
    whole-graph cap, so the default runs the local kernel; cap 0 runs
    the distributed loop."""
    g = mk_graph(edges)
    want = components_oracle(edges)
    for tier in ("local", "distributed"):
        with pytest.MonkeyPatch.context() as mp:
            if tier == "distributed":
                mp.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
            else:
                mp.delenv("LIGRA_LOCAL_GRAPH_EDGES", raising=False)
            out = connected_components(g, **kw)
            got = {r["id"]: r["comp"] for r in out.collect()}
        assert got == want, tier
    g.unpersist()


def test_cc_plain_hash_min_ligra_semantics(mk_graph):
    # the Components.C min-id fixpoint across two cliques joined by an edge
    _cc_check(mk_graph, TWO_COMPONENTS + [(0, 10)])


def test_cc_two_components(mk_graph):
    _cc_check(mk_graph, TWO_COMPONENTS)


def test_cc_chain(mk_graph):
    _cc_check(mk_graph, CHAIN_64)


def test_cc_star(mk_graph):
    _cc_check(mk_graph, STAR_HUB)


def test_cc_self_loops_dups(mk_graph):
    _cc_check(mk_graph, SELF_LOOPS_DUPS)


def test_cc_random_id_chains(mk_graph):
    # 20 chains of 50 vertices with permuted ids and random edge
    # directions: labels must travel both ways along every chain
    rng = random.Random(5)
    ids = rng.sample(range(1_000_000), 20 * 50)
    edges = []
    for c in range(20):
        chain = ids[c * 50:(c + 1) * 50]
        for a, b in zip(chain, chain[1:]):
            edges.append((a, b) if rng.random() < 0.5 else (b, a))
    _cc_check(mk_graph, edges)


def test_cc_directed_hash_min(mk_graph):
    """``symmetrize=False`` on an asymmetric graph is Components.C's
    directed hash-min: each vertex ends with the min id among the
    vertices that reach it. Nothing reaches 5, and only 5 reaches 7,
    although 6 (labelled 5 in round one) later receives 1 from 8."""
    edges = [(5, 6), (5, 7), (1, 8), (8, 6)]
    assert directed_components_oracle(edges) == {1: 1, 5: 5, 6: 1, 7: 5, 8: 1}
    rng = random.Random(3)
    rand = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    for es in (edges, rand):
        g = mk_graph(es)
        out = connected_components(g, symmetrize=False)
        got = {r["id"]: r["comp"] for r in out.collect()}
        assert got == directed_components_oracle(es)
        g.unpersist()


def test_cc_round_budget(spark, monkeypatch):
    """The distributed round checkpoints at most twice: once after the
    contraction, once after the pointer hop that carries the frontier
    count. A closed graph always takes the distributed loop."""
    from ligra_spark.algorithms import components
    from ligra_spark.algorithms._iter import IterMetrics
    from ligra_spark.graph import Graph
    from ligra_spark.sources import derive_edges, generate_transcripts

    t = generate_transcripts(spark, 100, distributed=False)
    g = Graph(
        derive_edges(t, closure_key=True), closure_key="ckey", num_partitions=4
    )
    calls = []
    real = components.materialize

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(components, "materialize", counting)
    m = IterMetrics()
    got = {
        r["id"]: r["comp"]
        for r in components.connected_components(g, metrics=m).collect()
    }
    edges = [(r["src"], r["dst"]) for r in g.edges_by_src.collect()]
    assert got == components_oracle(edges)
    assert m.iterations > 1
    # one more for the initial state, before the first round
    assert len(calls) <= 2 * m.iterations + 1
    g.unpersist()


def test_lp_two_components(mk_graph):
    edges = TWO_COMPONENTS
    g = mk_graph(edges)
    got = {r["id"]: r["label"] for r in label_propagation(g).collect()}
    assert got == label_propagation_oracle(edges)
    g.unpersist()


def test_lp_star(mk_graph):
    g = mk_graph(STAR_HUB)
    got = {r["id"]: r["label"] for r in label_propagation(g, max_iters=5).collect()}
    assert got == label_propagation_oracle(STAR_HUB, max_iters=5)
    g.unpersist()


def test_triangles_k4(mk_graph):
    g = mk_graph(K4)
    assert triangle_count(g) == 4 == triangle_count_oracle(K4)
    per_v = {r["id"]: r["triangles"] for r in triangles_per_vertex(g).collect()}
    assert per_v == {0: 3, 1: 3, 2: 3, 3: 3}
    g.unpersist()


def test_triangles_two_cliques(mk_graph):
    # C(5,3) + C(7,3) = 10 + 35 = 45 (FIXTURES.md §3)
    g = mk_graph(TWO_COMPONENTS)
    assert triangle_count(g) == 45 == triangle_count_oracle(TWO_COMPONENTS)
    g.unpersist()


def test_triangles_self_loops_dups(mk_graph):
    g = mk_graph(SELF_LOOPS_DUPS)
    assert triangle_count(g) == triangle_count_oracle(SELF_LOOPS_DUPS) == 1
    g.unpersist()


def test_triangles_chain_has_none(mk_graph):
    g = mk_graph(CHAIN_64)
    assert triangle_count(g) == 0
    g.unpersist()


def test_kcore_cliques(mk_graph):
    edges = TWO_COMPONENTS + [(0, 10)]  # bridge the cliques
    g = mk_graph(edges)
    got = {r["id"]: r["core"] for r in kcore(g).collect()}
    assert got == kcore_oracle(edges)
    g.unpersist()


def test_bfs_components_overflow_guard(mk_graph):
    # 100 disjoint 2-vertex components; the one-BFS-per-component
    # schedule must refuse to silently truncate when capped below that.
    import pytest

    from ligra_spark.algorithms import bfs_components, connected_components

    edges = [(2 * i, 2 * i + 1) for i in range(100)]
    g = mk_graph(edges)
    with pytest.raises(RuntimeError, match="max_comps"):
        bfs_components(g, max_comps=3)
    # fallback path labels the remainder via connected_components and
    # matches the O(log)-round engine exactly
    got = {
        r["id"]: r["comp"]
        for r in bfs_components(g, max_comps=3, on_overflow="fallback").collect()
    }
    want = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    assert got == want
    g.unpersist()


# ---- cc_contract_local: partition-local Arrow contraction ------------------


def _ccl_check(mk_graph, edges, **kw):
    from ligra_spark.algorithms import cc_contract_local

    g = mk_graph(edges)
    got = {r["id"]: r["comp"] for r in cc_contract_local(g, **kw).collect()}
    assert got == components_oracle(edges)
    g.unpersist()


def test_ccl_two_components(mk_graph):
    _ccl_check(mk_graph, TWO_COMPONENTS)


def test_ccl_chain(mk_graph):
    _ccl_check(mk_graph, CHAIN_64)


def test_ccl_star(mk_graph):
    _ccl_check(mk_graph, STAR_HUB)


def test_ccl_self_loops_dups(mk_graph):
    _ccl_check(mk_graph, SELF_LOOPS_DUPS)


def test_ccl_scattered_path_stall_fallback(mk_graph):
    """A long path with shuffled ids scattered over partitions is the
    worst case for local contraction (residual shrinks by a constant
    per round); the stall detector must hand the contracted residual to
    hash-min and still produce the exact min-id labeling."""
    import random

    rng = random.Random(11)
    ids = list(range(0, 4000, 2))
    rng.shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    # stall_ratio=0 forces the fallback on the very first non-improving
    # round, exercising the hash-min handoff + mapping composition
    _ccl_check(mk_graph, edges, stall_ratio=0.0)


def test_ccl_empty(spark):
    from ligra_spark.algorithms import cc_contract_local
    from ligra_spark.graph import Graph

    g = Graph(spark.createDataFrame([], "src long, dst long"), num_partitions=2)
    assert cc_contract_local(g).count() == 0
