"""BFS / Bellman-Ford parity + golden-input tests on the reference's
shipped rMat fixtures (parsed, not copied — PBBS text format,
README.md:142-176)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from conftest import CHAIN_64, STAR_HUB, TWO_COMPONENTS
from ligra_spark.algorithms import (
    bellman_ford,
    bfs,
    connected_components,
    pagerank,
    triangle_count,
)
from ligra_spark.graph import Graph
from ligra_spark.sources import read_adjacency_graph
from oracles import (
    bellman_ford_oracle,
    bfs_oracle,
    components_oracle,
    pagerank_oracle,
    triangle_count_oracle,
)

RMAT = "/root/reference/inputs/rMatGraph_J_5_100"
RMAT_W = "/root/reference/inputs/rMatGraph_WJ_5_100"


def test_bfs_chain(mk_graph):
    g = mk_graph(CHAIN_64)
    got = {r["id"]: r["dist"] for r in bfs(g, 0).collect()}
    assert got == bfs_oracle(CHAIN_64, 0)
    g.unpersist()


def test_bfs_parents_form_tree(mk_graph):
    edges = TWO_COMPONENTS + [(0, 10)]
    g = mk_graph(edges)
    rows = bfs(g, 0).collect()
    dist = {r["id"]: r["dist"] for r in rows}
    assert dist == bfs_oracle(edges, 0)
    for r in rows:
        if r["id"] != 0:
            assert dist[r["parent"]] == r["dist"] - 1
    g.unpersist()


def test_bellman_ford_weighted_chain(mk_graph):
    edges_w = [(i, i + 1, float(i % 3) + 0.5) for i in range(20)]
    g = mk_graph(edges_w, weighted=True)
    got = {r["id"]: r["dist"] for r in bellman_ford(g, 0).collect()}
    want = bellman_ford_oracle(edges_w, 0)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
    g.unpersist()


def test_bellman_ford_shortcut_wins(mk_graph):
    edges_w = [(0, 1, 10.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0)]
    g = mk_graph(edges_w, weighted=True)
    got = {r["id"]: r["dist"] for r in bellman_ford(g, 0).collect()}
    assert got == {0: 0.0, 1: 2.0, 2: 1.0, 3: 3.0}
    g.unpersist()


@pytest.mark.skipif(not os.path.exists(RMAT), reason=f"golden input {RMAT} absent")
def test_golden_rmat_parity(spark):
    """The reference's own golden input (n=128, m=708): PageRank 1e-6,
    CC/TC exact, BFS levels exact."""
    edges_df = read_adjacency_graph(spark, RMAT)
    edges = [(r["src"], r["dst"]) for r in edges_df.collect()]
    assert len(edges) == 708
    g = Graph(edges_df, num_partitions=8)

    want_pr = pagerank_oracle(edges)
    got_pr = {r["id"]: r["rank"] for r in pagerank(g).collect()}
    keys = sorted(want_pr)
    assert np.allclose(
        [got_pr[k] for k in keys], [want_pr[k] for k in keys], atol=1e-6
    )

    got_cc = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    assert got_cc == components_oracle(edges)

    assert triangle_count(g) == triangle_count_oracle(edges)

    got_bfs = {r["id"]: r["dist"] for r in bfs(g, 0).collect()}
    assert got_bfs == bfs_oracle(edges, 0)
    g.unpersist()


@pytest.mark.skipif(not os.path.exists(RMAT_W), reason=f"golden input {RMAT_W} absent")
def test_golden_rmat_weighted_bellman_ford(spark):
    edges_df = read_adjacency_graph(spark, RMAT_W)
    rows = edges_df.collect()
    edges_w = [(r["src"], r["dst"], r["w"]) for r in rows]
    if any(w < 0 for _, _, w in edges_w):
        pytest.skip("fixture has negative weights")
    g = Graph(edges_df, num_partitions=8)
    got = {r["id"]: r["dist"] for r in bellman_ford(g, 0).collect()}
    want = bellman_ford_oracle(edges_w, 0)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
    g.unpersist()


def _pbbs_fixture(tmp_path, weighted: bool) -> tuple[str, list]:
    """A PBBS AdjacencyGraph text file built from the deterministic
    R-MAT generator at the golden rMat's size (n=128, m=708), with
    integer weights in [1, 7] for the weighted twin. Returns the path
    and the generated edge rows."""
    from ligra_spark.sources import write_adjacency_graph
    from ligra_spark.sources.rmat import rmat_edges

    e = rmat_edges(7, 708, seed=5)
    w = np.arange(len(e), dtype=np.int64) % 7 + 1 if weighted else None
    path = str(tmp_path / ("rmat_w.adj" if weighted else "rmat.adj"))
    write_adjacency_graph(path, e[:, 0], e[:, 1], w, n=128)
    rows = e.tolist() if w is None else np.column_stack([e, w]).tolist()
    return path, sorted(map(tuple, rows))


def _binary_roundtrip(spark, tmp_path, text_path: str) -> list:
    """Binary .config/.adj/.idx reader (IO.h:318-371): a PBBS text graph
    written as binary and read back gives the same edge list, weights
    included. Returns the parsed text edges."""
    from ligra_spark.sources import read_binary_graph, write_binary_graph
    from ligra_spark.sources.adjacency import parse_adjacency_file

    src, dst, w = parse_adjacency_file(text_path)
    prefix = str(tmp_path / "g")
    write_binary_graph(prefix, src, dst, w)
    df = read_binary_graph(spark, prefix, weighted=w is not None)
    if w is None:
        want = sorted(zip(src.tolist(), dst.tolist()))
        got = sorted((r["src"], r["dst"]) for r in df.collect())
    else:
        want = sorted(zip(src.tolist(), dst.tolist(), [float(int(x)) for x in w]))
        got = sorted((r["src"], r["dst"], r["w"]) for r in df.collect())
    assert got == want
    return want


def test_binary_graph_roundtrip(spark, tmp_path):
    path, rows = _pbbs_fixture(tmp_path, weighted=False)
    assert _binary_roundtrip(spark, tmp_path, path) == rows
    assert len(rows) == 708


def test_binary_graph_roundtrip_weighted(spark, tmp_path):
    path, rows = _pbbs_fixture(tmp_path, weighted=True)
    assert _binary_roundtrip(spark, tmp_path, path) == rows
    assert {r[2] for r in rows} == set(range(1, 8))


@pytest.mark.skipif(not os.path.exists(RMAT), reason=f"golden input {RMAT} absent")
def test_binary_graph_roundtrip_golden(spark, tmp_path):
    assert len(_binary_roundtrip(spark, tmp_path, RMAT)) == 708


@pytest.mark.skipif(not os.path.exists(RMAT_W), reason=f"golden input {RMAT_W} absent")
def test_binary_graph_roundtrip_golden_weighted(spark, tmp_path):
    assert _binary_roundtrip(spark, tmp_path, RMAT_W)


def test_snap_reader(spark, tmp_path):
    """SNAP edge-list text format (utils/SNAPtoAdj input)."""
    from ligra_spark.sources import read_snap_graph

    p = tmp_path / "snap.txt"
    p.write_text("# comment line\n0 1\n0\t2\n1 2\n\n2 0\n")
    got = sorted(tuple(r) for r in read_snap_graph(spark, str(p)).collect())
    assert got == [(0, 1), (0, 2), (1, 2), (2, 0)]
    pw = tmp_path / "snapw.txt"
    pw.write_text("0 1 2.5\n1 2 1.0\n")
    gotw = sorted(tuple(r) for r in read_snap_graph(spark, str(pw), weighted=True).collect())
    assert gotw == [(0, 1, 2.5), (1, 2, 1.0)]


def test_bfs_components_equals_hashmin(spark, mk_graph):
    from ligra_spark.algorithms import bfs_components, connected_components

    g = mk_graph([(0, 1), (1, 2), (5, 6), (7, 8), (8, 9), (3, 4)])
    want = sorted((r.id, r.comp) for r in connected_components(g).collect())
    got = sorted((r.id, r.comp) for r in bfs_components(g).collect())
    assert got == want
