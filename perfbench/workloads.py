"""The benchmark's workloads: inputs made from the seed alone, the graph
set-up, the timed algorithm calls and their output checks.

Both workloads make the same five public calls; the input decides the
execution tier each call takes (README.md says why each was chosen):

- ``transcripts_closed``: the conversation-closed transcript graph.
  PageRank, label propagation, ``cc_contract_local`` and triangle
  counting run as fused partition-local Arrow kernels on every core;
  ``connected_components`` with default knobs is not dispatched to a
  kernel on a closed graph and runs the distributed hash-min fixpoint
  loop (per-round jobs, shuffles and local checkpoints).
- ``rmat_small``: a skewed R-MAT graph under the whole-graph edge cap, so
  every call runs on the whole-graph local tier: the single-partition
  kernel, or the driver-side parallel wedge probe for triangles.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from functools import partial
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from ligra_spark import Graph
from ligra_spark.algorithms import (
    cc_contract_local,
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from ligra_spark.sources import derive_edges, generate_transcripts
from ligra_spark.sources.rmat import rmat_edges
from perfbench import oracles

PR_ITERS = 20
LP_ITERS = 5
PR_RTOL = 1e-6


@dataclass
class Call:
    """One timed algorithm call. ``run`` returns the engine's result;
    ``warm`` is the untimed call on the same path that precedes it."""

    name: str
    run: Callable
    warm: Callable
    kind: str  # "rank" | "label" | "count"


@dataclass
class Workload:
    name: str
    source: str  # "transcripts" | "rmat"
    size: dict
    calls: list[Call]


def workloads(scale: float = 1.0) -> dict[str, Workload]:
    """The workload table; ``scale`` < 1 shrinks every input (the
    benchmark's own smoke tests use it, measured runs never do)."""

    def conv(n):
        return {"n_conv": max(50, int(n * scale))}

    def rmat(log_n, m):
        return {"log_n": log_n if scale >= 1 else 10,
                "m_generated": max(2000, int(m * scale))}

    pr = partial(pagerank, max_iters=PR_ITERS)
    lp = partial(label_propagation, max_iters=LP_ITERS)
    return {
        "transcripts_closed": Workload(
            "transcripts_closed", "transcripts", conv(2500),
            [
                Call("pagerank", pr, pr, "rank"),
                Call("lp", lp, lp, "label"),
                # one round warms the same distributed loop at a tenth of
                # the cost of a full call
                Call("cc", connected_components,
                     partial(connected_components, max_iters=1), "label"),
                Call("cc_contract", cc_contract_local, cc_contract_local, "label"),
                Call("triangle", triangle_count, triangle_count, "count"),
            ],
        ),
        "rmat_small": Workload(
            "rmat_small", "rmat", rmat(15, 200_000),
            [
                Call("pagerank", pr, pr, "rank"),
                Call("lp", lp, lp, "label"),
                Call("cc", connected_components, connected_components, "label"),
                Call("cc_contract", cc_contract_local, cc_contract_local, "label"),
                Call("triangle", triangle_count, triangle_count, "count"),
            ],
        ),
    }


# -- inputs -------------------------------------------------------------


def prepare_inputs(spark, wl: Workload, seed: int, root: str) -> str:
    """Generate the workload's input parquet and oracle results for
    ``seed`` under ``root`` once; later runs with the same seed reuse
    them. Returns the input directory."""
    path = os.path.join(root, f"{wl.name}-{'-'.join(map(str, wl.size.values()))}-s{seed}")
    if os.path.exists(os.path.join(path, "meta.json")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if wl.source == "transcripts":
        src, dst = _transcript_input(spark, wl.size["n_conv"], seed, tmp)
    else:
        src, dst = _rmat_input(wl.size["log_n"], wl.size["m_generated"], seed, tmp)
    names = {c.name for c in wl.calls}
    expect, meta = {}, {}
    if "pagerank" in names:
        ids, rank, rounds = oracles.pagerank(src, dst, PR_ITERS)
        expect.update(pagerank_ids=ids, pagerank=rank)
        meta["pagerank_rounds"] = rounds
    if "lp" in names:
        ids, lab, rounds = oracles.label_propagation(src, dst, LP_ITERS)
        expect.update(lp_ids=ids, lp=lab)
        meta["lp_rounds"] = rounds
    if names & {"cc", "cc_contract"}:
        ids, comp = oracles.components(src, dst)
        expect.update(cc_ids=ids, cc=comp, cc_contract_ids=ids, cc_contract=comp)
    if "triangle" in names:
        meta["triangle"] = oracles.triangle_count(src, dst)
    ids = np.unique(np.concatenate([src, dst]))
    deg = np.bincount(np.searchsorted(ids, src), minlength=len(ids)) + np.bincount(
        np.searchsorted(ids, dst), minlength=len(ids)
    )
    meta.update(n=int(len(ids)), m=int(len(src)), max_degree=int(deg.max()))
    np.savez(os.path.join(tmp, "oracle.npz"), **expect)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def _transcript_input(spark, n_conv: int, seed: int, out: str):
    tpath = os.path.join(out, "transcripts")
    generate_transcripts(spark, n_conv, seed=seed).write.parquet(tpath)
    # vertex naming only: Spark's built-in 64-bit hash of the turn key,
    # the id the engine's default derivation assigns
    ipath = os.path.join(out, "ids")
    spark.read.parquet(tpath).select(
        "conv_id", "turn_idx", F.xxhash64("conv_id", "turn_idx").alias("id")
    ).write.parquet(ipath)
    # the graph as the engine holds it: every derived edge, duplicates kept
    return oracles.transcript_edges(tpath, ipath)


def _rmat_input(log_n: int, m: int, seed: int, out: str):
    e = rmat_edges(log_n, m, seed)
    os.makedirs(os.path.join(out, "edges"))
    pq.write_table(
        pa.table({"src": e[:, 0], "dst": e[:, 1]}),
        os.path.join(out, "edges", "part-0.parquet"),
    )
    # Graph(dedupe=True) holds the simple graph
    return oracles.simple_edges(e[:, 0], e[:, 1])


# -- set-up -------------------------------------------------------------


def derived_edges(spark, wl: Workload, path: str):
    """The edge table the graph is built from: transcripts scanned and
    derived into link edges, or R-MAT edges scanned."""
    if wl.source == "transcripts":
        t = spark.read.parquet(os.path.join(path, "transcripts"))
        return derive_edges(t, closure_key=True)
    return spark.read.parquet(os.path.join(path, "edges"))


def build_graph(spark, wl: Workload, path: str):
    """Build the graph and materialize its n and m."""
    edges = derived_edges(spark, wl, path)
    if wl.source == "transcripts":
        g = Graph(edges, closure_key="ckey", validated_closure=True)
    else:
        g = Graph(edges, dedupe=True)
    return g, g.n, g.m


# -- output gate ---------------------------------------------------------


def readout(result, kind: str):
    """The result as driver-side numpy arrays (untimed)."""
    if kind == "count":
        return int(result)
    tab = result.toArrow()
    ids = tab.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    vals = tab.column(1).to_numpy(zero_copy_only=False)
    order = np.argsort(ids, kind="stable")
    return ids[order], vals[order]


def check(call: Call, got, expect, meta) -> str | None:
    """None when ``got`` matches the oracle, else the reason it does not.
    PageRank: same vertex set and allclose at rtol 1e-6; labels and
    triangle counts exactly equal."""
    if call.kind == "count":
        return None if got == meta[call.name] else f"{got} != {meta[call.name]}"
    ids, vals = got
    want_ids, want = expect[f"{call.name}_ids"], expect[call.name]
    if len(ids) != len(want_ids) or not np.array_equal(ids, want_ids):
        return f"vertex set differs: {len(ids)} vs {len(want_ids)} rows"
    if call.kind == "rank":
        bad = ~np.isclose(vals, want, rtol=PR_RTOL, atol=0.0)
    else:
        bad = vals.astype(np.int64) != want
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        return f"{int(bad.sum())} values differ, e.g. id {ids[i]}: {vals[i]} vs {want[i]}"
    return None
