"""Execution-tier resolver: the one place that decides where an
algorithm call runs.

Ligra makes its execution choice in one place — edgeMap compares
``|F| + Σ outdeg(F)`` against ``m/20`` and picks sparse or dense
(ligra.h:238-261). This engine's coarser choice is between three tiers:

- ``closed``: the graph declares a closure key, so the fused
  partition-local kernels in closed.py compute the exact global answer
  with no per-round shuffle;
- ``local``: the edge set fits one worker (``m <=
  LIGRA_LOCAL_GRAPH_EDGES``), so the same kernels run over the whole
  graph as one partition (``graph.local_view()``), or, for the triangle
  count, as the driver-side parallel wedge probe;
- ``distributed``: the DataFrame fixpoint loops (or, for
  ``cc_contract_local``, the partition-local contraction rounds).

The checks run cheapest first, so ``graph.m`` (a count job when not yet
known) is read only when the cap decides: never for a closed graph, a
checkpointed call, or a call that no local kernel can serve.
"""

from __future__ import annotations

import os
from typing import NamedTuple

# Graphs at or under this many edges dispatch iterative algorithms to
# the fused single-partition Arrow kernels (the closed.py kernels over
# the trivial whole-graph closure) instead of the distributed fixpoint
# loops. Rationale (measured, sf0.1 events graph = 98.5k edges,
# local[32]): a distributed fixpoint round costs ~0.45-0.5s of pure
# driver orchestration — ~5 scheduler jobs + Catalyst planning + AQE
# stage materialization + a localCheckpoint — while its 32 cores are
# >97% idle (sum of executor task time across a full 20-round PageRank:
# 9.2s on 32 cores = 0.29s busy-equivalent vs 12.4s wall). A
# single-worker numpy kernel sustains ~30-60M edge-updates/s, so any
# graph under a few million edges finishes ALL rounds in under a
# second, beating the per-round floor by an order of magnitude. The
# threshold is deliberately conservative (kernel wall ≲1s, worker
# memory ≲100 MB) and env-tunable: a real cluster tunes it by its own
# scheduler floor; 0 disables the dispatch (bench_scaling sets 0 so the
# distributed engine's scaling is what gets measured).
DEFAULT_LOCAL_KERNEL_EDGES = 2_000_000


def local_kernel_edge_cap() -> int:
    try:
        return int(
            os.environ.get(
                "LIGRA_LOCAL_GRAPH_EDGES", DEFAULT_LOCAL_KERNEL_EDGES
            )
        )
    except ValueError:
        return DEFAULT_LOCAL_KERNEL_EDGES


# algorithm -> tiers it has a kernel for, besides the distributed one
KERNELS = {
    "pagerank": ("closed", "local"),
    "lp": ("closed", "local"),
    # connected_components keeps the distributed loop on closed graphs:
    # only cc_contract_local dispatches the closed CC kernel
    "cc": ("local",),
    # cc_contract_local on a plain graph runs its own contraction rounds
    "cc_contract": ("closed",),
    "triangle": ("closed", "local"),
    "triangles_per_vertex": ("closed",),
    "kbfs_exact": ("closed",),
}

# connected_components' default round cap: its kernel runs to the
# fixpoint, so a smaller cap asks for partial labels only the loop gives
FIXPOINT_ITERS = 1000


class Tier(NamedTuple):
    tier: str  # "closed" | "local" | "distributed"
    reason: str
    view: object  # what the kernel runs on; None for "distributed"


def _distributed(reason: str) -> Tier:
    return Tier("distributed", reason, None)


def resolve_tier(
    graph,
    algo: str,
    *,
    checkpointer=None,
    max_iters: int | None = None,
    symmetrize: bool = True,
) -> Tier:
    """The tier ``algo`` runs on for ``graph``, a one-line reason, and
    the view its kernel takes: ``graph`` itself, ``graph.local_view()``
    or ``None``. ``algo`` is a key of ``KERNELS``."""
    kernels = KERNELS[algo]
    if checkpointer is not None:
        return _distributed("checkpointed runs save state every round")
    if algo == "cc":
        if max_iters is not None and max_iters < FIXPOINT_ITERS:
            return _distributed(f"max_iters={max_iters} asks for partial labels")
        if not (symmetrize or graph.symmetric):
            return _distributed("directed hash-min has no kernel")
    if getattr(graph, "closed_edges", None) is not None:
        if "closed" in kernels:
            return Tier("closed", "declared closure key", graph)
        return _distributed(f"{algo} has no closed-graph dispatch")
    if "local" not in kernels:
        return _distributed(f"{algo} has no whole-graph kernel")
    cap = local_kernel_edge_cap()
    if cap <= 0:
        return _distributed("LIGRA_LOCAL_GRAPH_EDGES=0 disables the local tier")
    m = graph.m
    if m > cap:
        return _distributed(f"m={m} > LIGRA_LOCAL_GRAPH_EDGES={cap}")
    view = graph if algo == "triangle" else graph.local_view()
    return Tier("local", f"m={m} <= LIGRA_LOCAL_GRAPH_EDGES={cap}", view)
