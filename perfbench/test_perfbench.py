"""The benchmark's own tests: a small-size smoke run of each workload,
the output gate on perturbed results, and the event-log reducer on a
call of known shape.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pytest

from perfbench import oracles, run as R, workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMOKE_SCALE = 0.05


def _declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


@pytest.fixture(scope="module")
def work():
    return os.path.join(R.WORK, "test")


@pytest.mark.parametrize("workload", sorted(W.workloads()))
@pytest.mark.parametrize("trace", [False, True])
def test_smoke_run_prints_every_metric(workload, trace, work):
    out = R.run(workload, seed=7, seconds=0.1, trace=trace, scale=SMOKE_SCALE, work=work)
    assert out["correct"], out["failures"]
    assert out["failed"] == 0 and out["attempted"] >= len(W.workloads()[workload].calls)
    want = _declared("per_layer" if trace else "end_to_end")
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    if trace:
        tiers = {c: v["tier"] for c, v in out["per_call"].items()}
        if workload == "rmat_small":
            assert set(tiers.values()) == {"local"}
        else:
            assert tiers["cc"] == "distributed"


def _tiny_graph():
    rng = np.random.default_rng(3)
    src = rng.integers(0, 40, 120)
    dst = rng.integers(0, 40, 120)
    return oracles.simple_edges(src, dst)


def test_gate_rejects_one_flipped_cc_label():
    src, dst = _tiny_graph()
    ids, comp = oracles.components(src, dst)
    call = W.Call("cc", None, None, "label")
    expect = {"cc_ids": ids, "cc": comp}
    assert W.check(call, (ids, comp.copy()), expect, {}) is None
    bad = comp.copy()
    bad[5] = bad[5] + 1
    assert W.check(call, (ids, bad), expect, {}) is not None


def test_gate_rejects_one_pagerank_value_off_by_1e_3():
    src, dst = _tiny_graph()
    ids, rank, _ = oracles.pagerank(src, dst, 20)
    call = W.Call("pagerank", None, None, "rank")
    expect = {"pagerank_ids": ids, "pagerank": rank}
    assert W.check(call, (ids, rank * (1 + 1e-9)), expect, {}) is None
    bad = rank.copy()
    bad[3] *= 1 + 1e-3
    assert W.check(call, (ids, bad), expect, {}) is not None


def test_gate_rejects_a_wrong_triangle_count():
    call = W.Call("triangle", None, None, "count")
    assert W.check(call, 5, {}, {"triangle": 5}) is None
    assert W.check(call, 4, {}, {"triangle": 5}) is not None


def test_oracles_on_a_known_graph():
    # a triangle 1-2-3 with a tail 3-4, and a separate edge 8-9
    src = np.array([1, 2, 3, 3, 8])
    dst = np.array([2, 3, 1, 4, 9])
    ids, comp = oracles.components(src, dst)
    assert dict(zip(ids, comp)) == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}
    assert oracles.triangle_count(src, dst) == 1
    ids, lab, _ = oracles.label_propagation(src, dst, 1)
    # vertex 3 sees labels {1, 2, 4}: all once, the smallest wins
    assert dict(zip(ids, lab))[3] == 1


def test_event_log_reducer_counts_a_one_job_call(work):
    from perfbench.trace import EventLog, Tracer

    R._prepare_env(work)
    log_dir = os.path.join(work, "eventlog", uuid.uuid4().hex)
    spark = R.start_session("perfbench-reducer", R.host_settings(), work, log_dir)
    try:
        tr = Tracer(spark.sparkContext, "reducer")
        with tr.span("idle") as idle:
            pass
        with tr.span("one_job") as one:
            assert spark.sparkContext.parallelize(range(30), 3).count() == 30
        # the live gate sees the same shape without an event log
        assert tr.live_tasks(idle) == (0, 0)
        assert tr.live_tasks(one) == (1, 3)
    finally:
        R.stop_session(spark)
    ev = EventLog(log_dir)
    got = ev.reduce({tr.group(one)}, (one.start, one.end), 4)
    assert (got["jobs"], got["stages"], got["tasks"]) == (1, 1, 3)
    assert got["executor_run_s"] >= 0 and got["driver_s"] >= 0
    assert ev.reduce({tr.group(idle)}, (idle.start, idle.end), 4)["jobs"] == 0
