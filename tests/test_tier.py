"""The execution-tier decision table (algorithms/_tier.py).

Every public entry that can leave the distributed loop asks
``resolve_tier`` once, before any work. These tests call each entry
with a spy in place of the resolver that records the resolved tier and
stops the call there, so they pin both the arguments each entry passes
and the decision itself, without running any algorithm."""

from __future__ import annotations

from importlib import import_module

import pytest

from ligra_spark.algorithms import _tier
from ligra_spark.checkpoint import Checkpointer
from ligra_spark.graph import Graph, _LocalClosedView

# K4 in closure group 1; a triangle with a pendant in group 2 (directed,
# so the plain graph is asymmetric)
EDGES = [(a, b, 1) for a in range(4) for b in range(4) if a < b] + [
    (10, 11, 2), (11, 12, 2), (10, 12, 2), (12, 13, 2),
]

# algo -> (module under ligra_spark.algorithms, public entry)
CALLS = {
    "pagerank": ("pagerank", "pagerank"),
    "lp": ("label_propagation", "label_propagation"),
    "cc": ("components", "connected_components"),
    "cc_contract": ("components", "cc_contract_local"),
    "triangle": ("triangle", "triangle_count"),
    "triangles_per_vertex": ("triangle", "triangles_per_vertex"),
    "kbfs_exact": ("radii", "kbfs_exact"),
}

# (algo, graph, case, call kwargs, tier the call takes)
TABLE = [
    ("pagerank", "closed", "default", {}, "closed"),
    ("pagerank", "closed", "checkpointer", {"checkpointer": True}, "distributed"),
    ("pagerank", "plain", "default", {}, "local"),
    ("pagerank", "plain", "above_cap", {}, "distributed"),
    ("pagerank", "plain", "checkpointer", {"checkpointer": True}, "distributed"),
    ("pagerank", "plain", "max_iters", {"max_iters": 20}, "local"),
    ("lp", "closed", "default", {}, "closed"),
    ("lp", "closed", "directed", {"symmetrize": False}, "closed"),
    ("lp", "plain", "default", {}, "local"),
    ("lp", "plain", "above_cap", {}, "distributed"),
    ("lp", "plain", "max_iters", {"max_iters": 5}, "local"),
    ("lp", "plain", "directed", {"symmetrize": False}, "local"),
    # closed graphs keep connected_components on the distributed loop
    ("cc", "closed", "default", {}, "distributed"),
    ("cc", "plain", "default", {}, "local"),
    ("cc", "plain", "above_cap", {}, "distributed"),
    ("cc", "plain", "checkpointer", {"checkpointer": True}, "distributed"),
    ("cc", "plain", "max_iters", {"max_iters": 999}, "distributed"),
    ("cc", "plain", "fixpoint_cap", {"max_iters": 1000}, "local"),
    ("cc", "plain", "directed", {"symmetrize": False}, "distributed"),
    ("cc_contract", "closed", "default", {}, "closed"),
    # cc_contract_local on a plain graph never takes the local tier
    ("cc_contract", "plain", "default", {}, "distributed"),
    ("cc_contract", "plain", "above_cap", {}, "distributed"),
    ("triangle", "closed", "default", {}, "closed"),
    ("triangle", "plain", "default", {}, "local"),
    ("triangle", "plain", "above_cap", {}, "distributed"),
    ("triangles_per_vertex", "closed", "default", {}, "closed"),
    ("triangles_per_vertex", "plain", "default", {}, "distributed"),
    ("triangles_per_vertex", "plain", "above_cap", {}, "distributed"),
    ("kbfs_exact", "closed", "default", {}, "closed"),
    ("kbfs_exact", "plain", "default", {}, "distributed"),
    ("kbfs_exact", "plain", "above_cap", {}, "distributed"),
]


@pytest.fixture(scope="module")
def graphs(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, ckey long")
    gs = {
        "closed": Graph(
            df, closure_key="ckey", num_partitions=4, validated_closure=True
        ),
        "plain": Graph(df.select("src", "dst"), num_partitions=4),
    }
    yield gs
    for g in gs.values():
        g.unpersist()


class _Resolved(Exception):
    pass


def _resolved(monkeypatch, algo, graph, **kw):
    """The Tier the public entry for ``algo`` resolves on ``graph``."""
    mod, name = CALLS[algo]
    module = import_module(f"ligra_spark.algorithms.{mod}")
    seen = []

    def spy(*args, **kwargs):
        seen.append(_tier.resolve_tier(*args, **kwargs))
        raise _Resolved

    monkeypatch.setattr(module, "resolve_tier", spy)
    with pytest.raises(_Resolved):
        getattr(module, name)(graph, **kw)
    (got,) = seen
    return got


@pytest.mark.parametrize(
    "algo,which,case,kw,want",
    TABLE,
    ids=[f"{a}-{g}-{c}" for a, g, c, _, _ in TABLE],
)
def test_decision_table(
    spark, graphs, monkeypatch, tmp_path, algo, which, case, kw, want
):
    g = graphs[which]
    monkeypatch.delenv("LIGRA_LOCAL_GRAPH_EDGES", raising=False)
    if case == "above_cap":
        monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", str(g.m - 1))
    if kw.get("checkpointer"):
        kw = {**kw, "checkpointer": Checkpointer(spark, str(tmp_path))}
    got = _resolved(monkeypatch, algo, g, **kw)
    assert got.tier == want, got.reason
    assert got.reason
    if want == "distributed":
        assert got.view is None
    elif want == "closed" or algo == "triangle":
        # closed kernels and the parallel wedge probe take the graph
        assert got.view is g
    else:
        assert isinstance(got.view, _LocalClosedView)
        assert (got.view.n, got.view.m) == (g.n, g.m)


def test_every_algorithm_in_table():
    assert {row[0] for row in TABLE} == set(_tier.KERNELS) == set(CALLS)


def test_unknown_m_starts_no_job(spark, tmp_path):
    """Resolving a closed graph whose m is unknown, or a checkpointed
    call on any graph, must not count the edges: the resolver reads
    ``graph.m`` only when the cap decides."""
    df = spark.createDataFrame(EDGES, "src long, dst long, ckey long")
    closed = Graph(
        df, closure_key="ckey", num_partitions=4, validated_closure=True
    )
    plain = Graph(df.select("src", "dst"), num_partitions=4)
    ck = Checkpointer(spark, str(tmp_path))
    sc = spark.sparkContext
    group = "test_tier_no_job"
    sc.setJobGroup(group, "resolve_tier")
    try:
        tiers = {algo: _tier.resolve_tier(closed, algo) for algo in _tier.KERNELS}
        ckpt = [
            _tier.resolve_tier(g, algo, checkpointer=ck)
            for g in (closed, plain)
            for algo in ("pagerank", "cc")
        ]
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert jobs == []
    assert closed._m is None and plain._m is None
    assert tiers["cc"].tier == "distributed"
    assert {t.tier for a, t in tiers.items() if a != "cc"} == {"closed"}
    assert {t.tier for t in ckpt} == {"distributed"}
    closed.unpersist()
    plain.unpersist()
