"""Julienne bucketing tier: delta-stepping SSSP and work-efficient
k-core agree with the naive implementations on golden + fixture
graphs."""

from __future__ import annotations

import os

import pytest

from ligra_spark.algorithms import bellman_ford, kcore
from ligra_spark.algorithms._iter import IterMetrics
from ligra_spark.graph import Graph
from ligra_spark.operators.buckets import delta_stepping, kcore_bucketed
from ligra_spark.sources import read_adjacency_graph
from ligra_spark.sources.rmat import rmat_graph_df

RMAT_W = "/root/reference/inputs/rMatGraph_WJ_5_100"


@pytest.mark.skipif(not os.path.exists(RMAT_W), reason=f"golden input {RMAT_W} absent")
def test_delta_stepping_matches_bellman_ford_golden(spark):
    edges_df = read_adjacency_graph(spark, RMAT_W)
    if edges_df.where("w < 0").count() > 0:
        pytest.skip("fixture has negative weights")
    g = Graph(edges_df, num_partitions=8)
    want = {r["id"]: r["dist"] for r in bellman_ford(g, 0).collect()}
    for delta in (1.0, 4.0):
        got = {r["id"]: r["dist"] for r in delta_stepping(g, 0, delta=delta).collect()}
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9
    g.unpersist()


def test_delta_stepping_single_vertex(spark):
    g = Graph(
        spark.createDataFrame([(0, 1, 2.0)], "src long, dst long, w double"),
        num_partitions=2,
    )
    got = {r["id"]: r["dist"] for r in delta_stepping(g, 0, delta=1.0).collect()}
    assert got == {0: 0.0, 1: 2.0}
    g.unpersist()


def test_kcore_bucketed_matches_naive_rmat(spark):
    g = Graph(rmat_graph_df(spark, 7, 600), dedupe=True, num_partitions=8)
    want = {r["id"]: r["core"] for r in kcore(g).collect()}
    mets = IterMetrics()
    got = {r["id"]: r["core"] for r in kcore_bucketed(g, metrics=mets).collect()}
    assert got == want
    # work-efficiency: rounds = occupied degree levels (plus cascades),
    # strictly fewer than the naive k-scan's (max_core x inner peels)
    assert mets.iterations <= len(set(want.values())) * 12
    g.unpersist()


def test_kcore_bucketed_path_and_clique(spark):
    # path a-b-c (all core 1) + disjoint triangle (all core 2)
    edges = [(0, 1), (1, 2), (10, 11), (11, 12), (12, 10)]
    g = Graph(spark.createDataFrame(edges, "src long, dst long"), num_partitions=2)
    got = {r["id"]: r["core"] for r in kcore_bucketed(g).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 10: 2, 11: 2, 12: 2}
    g.unpersist()


def test_delta_stepping_bucket_jump_past_observation_window(spark):
    """The per-round Observation carries exact counts only for a small
    window of buckets past the current one; a weight that jumps the min
    bucket far beyond it (w=50, delta=1 → +50 buckets) must hit the
    fallback count job and still produce exact distances."""
    edges = [
        (0, 1, 50.0),   # jump: next occupied bucket is 50
        (1, 2, 0.5),    # re-entry into the same bucket (50)
        (2, 3, 100.0),  # second long jump
        (0, 4, 1.0),    # small step inside the window
    ]
    g = Graph(
        spark.createDataFrame(edges, "src long, dst long, w double"),
        num_partitions=2,
    )
    metrics = IterMetrics()
    got = {
        r["id"]: r["dist"]
        for r in delta_stepping(g, 0, delta=1.0, metrics=metrics).collect()
    }
    assert got == {0: 0.0, 1: 50.0, 2: 50.5, 3: 150.5, 4: 1.0}
    # buckets actually popped, in order: 0, then 1 (vertex 4), then the
    # jumped 50 (twice: v1 then re-entered v2), then 150
    assert [r["bucket"] for r in metrics.rounds] == [0, 1, 50, 50, 150]
    g.unpersist()
