"""Connected components — hash-min label propagation.

Reference: apps/Components.C — every vertex's label starts as its own
id (Components.C:56); each round frontier vertices push their label and
each destination keeps the minimum (writeMin, Components.C:38); a vertex
re-enters the frontier iff its label changed this round
(Components.C:34-38); fixpoint when the frontier empties
(Components.C:62-67). At fixpoint every vertex holds the **minimum
vertex id of its component** — an exact, deterministic output.

Acceleration (identical fixpoint, far fewer rounds), both in every
round of the distributed loop on a symmetric graph. On a directed one a
label need not name a vertex of its holder's component, so each vertex
is its own group and there is no hop: plain hash-min, where a vertex
ends with the min id among the vertices that reach it.

- **group-min contraction**: every vertex whose *old* label was L
  adopts the best label anyone in L's group received this round — the
  star-contraction idea from the MapReduce-WCC literature; O(log)
  rounds on the transcript chains where plain hash-min needs
  O(diameter) (6 vs 40 at sf0.01). Only improving messages (``msg <
  comp``) are grouped into ``gmin`` and joined back on the label; no
  member's own improvement beats ``gmin``, so the new label is
  ``least(comp, gmin)``: one join over the messages, none over the
  full vertex table.
- **one pointer-jump hop** (``IDs[i] = IDs[IDs[i]]``,
  Components-Shortcut.C:30-42), checkpointed on its own (chained
  lazily, the self-join would copy the contraction plan into both
  sides) with the frontier count riding that checkpoint's action.

Two checkpoints per round, down from three with two hops. Measured on
4 vCPUs: on the ``transcripts_closed`` benchmark graph (``local[4,4]``)
still 6 rounds, with Spark jobs 116→77, shuffle read 66→38 MiB and call
wall 12.5→8.1 s; on 200 random-id chains of 250 vertices
(``local[4]``) 8 rounds instead of 7, but 102 jobs instead of 141 and
8.4-9.7 s instead of 10.2-13.5 s.

Schedules only change round counts; the final labels are the
Components.C fixpoint either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import IterMetrics, Timer, materialize, unpersist
from ligra_spark.algorithms._tier import resolve_tier
from ligra_spark.graph import Graph
from ligra_spark.operators.edge_map import edge_map


def connected_components(
    graph: Graph,
    symmetrize: bool = True,
    max_iters: int = 1000,
    metrics: IterMetrics | None = None,
    checkpointer=None,
) -> DataFrame:
    """Returns ``(id LONG, comp LONG)`` — comp = min id in component.

    ``resolve_tier`` sends plain graphs with ``m <=
    LIGRA_LOCAL_GRAPH_EDGES`` to one Shiloach–Vishkin Arrow pass over
    the whole graph as one partition (closed.py), which replaces the
    multi-round loop (each round ~0.5s of driver orchestration at small
    scale) with the identical min-id fixpoint. That kernel is
    direction-agnostic and runs to the fixpoint, so checkpointed runs,
    ``max_iters < 1000`` (partial labels) and directed hash-min
    (``symmetrize=False`` on an asymmetric graph) keep the loop, as do
    closure-keyed graphs (``cc_contract_local`` is their kernel)."""
    tier, _, view = resolve_tier(
        graph,
        "cc",
        checkpointer=checkpointer,
        max_iters=max_iters,
        symmetrize=symmetrize,
    )
    if tier != "distributed":
        from ligra_spark.algorithms.closed import (
            connected_components_closed,
        )

        return connected_components_closed(view, metrics=metrics)
    symmetric = symmetrize or graph.symmetric
    # a directed graph's group is each vertex alone (module docstring)
    group = "comp" if symmetric else "id"
    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph

    state = g.vertices.select("id", F.col("id").alias("comp"))
    start_iter = 0
    if checkpointer is not None:
        resumed = checkpointer.resume()
        if resumed is not None:
            start_iter, state = resumed
    state = materialize(state)
    frontier = state
    frontier_n = g.n
    changed = F.col("comp_new") < F.col("comp")

    timer = Timer()
    for it in range(start_iter, max_iters):
        msgs = edge_map(
            g,
            frontier,
            message=F.col("comp"),
            combiner="min",
            frontier_size=frontier_n,
        )
        # contraction: the best improving message per group
        imp = (
            state.join(msgs, "id")
            .where(F.col("msg") < F.col("comp"))
            .groupBy(group)
            .agg(F.min("msg").alias("gmin"))
        )
        nxt = state.join(imp, group, "left").select(
            "id", "comp", F.least("comp", "gmin").alias("comp_new")
        )
        prev = state
        if symmetric:
            prev = nxt = materialize(nxt, state)
            hop = nxt.select(
                F.col("id").alias("comp_new"), F.col("comp_new").alias("comp2")
            )
            nxt = nxt.join(hop, "comp_new", "left").select(
                "id", "comp", F.coalesce("comp2", "comp_new").alias("comp_new")
            )
        # the frontier count rides the round's last materialization
        obs = Observation(f"cc_frontier_{it}")
        nxt = materialize(
            nxt.observe(obs, F.sum(changed.cast("long")).alias("frontier_n")),
            prev,
        )
        frontier = nxt.where(changed).select("id", F.col("comp_new").alias("comp"))
        frontier_n = int(obs.get["frontier_n"] or 0)
        state = nxt.select("id", F.col("comp_new").alias("comp"))
        state._ligra_ckpt = getattr(nxt, "_ligra_ckpt", nxt)
        if metrics is not None:
            metrics.record(it, frontier=frontier_n, wall_s=timer.lap())
        if checkpointer is not None:
            checkpointer.save(it, state, {"frontier": frontier_n})
        if frontier_n == 0:
            break
    return state


def cc_contract_local(
    graph: Graph,
    edges: DataFrame | None = None,
    stall_ratio: float = 0.7,
    max_rounds: int = 64,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, comp)`` — comp = min id in component; identical output to
    ``connected_components`` (the Components.C fixpoint), via
    partition-local contraction instead of global label rounds.

    Each round: (1) an Arrow kernel contracts every partition's local
    subgraph to min-id labels — zero shuffle, all C-speed; (2) one
    ``groupBy(v).min`` couples partitions that share a vertex; (3) the
    residual label graph (one edge per unresolved coupling) becomes the
    next round's input. Final labels resolve by composing the per-round
    mappings smallest-first, so all but one join are residual-sized
    (broadcast-able), then one vertex-sized join.

    Why this wins at scale: the hash-min loop shuffles edge-sized
    message + state tables ~5× per round for O(log) rounds; here the
    edge table is never shuffled at all (the kernel runs in place) and
    everything after round 1 is sized by the *unresolved couplings*,
    which for locality-preserving partitionings is near zero. In
    particular, edges derived per-conversation (derive_edges keeps the
    transcript window's conv_id partitioning) contract completely in
    1-2 rounds, because no edge crosses a conversation. Pass ``edges``
    to choose the partitioning the kernel exploits (default: the
    graph's as-derived edge table; direction is irrelevant to
    union-find, so the symmetrized orientation is never built).

    Degenerate case: a long path whose edges are scattered with no
    locality contracts by only a constant per round (the residual of a
    path is again a path, and random partitions co-locate few adjacent
    edges). When the residual shrinks by less than ``stall_ratio`` per
    round, the loop hands the *contracted* residual graph — usually
    orders of magnitude smaller than the input — to the hash-min
    ``connected_components`` fixpoint, whose groupBy-contraction +
    pointer jumps converge in O(log) rounds regardless of layout; its
    labels append to the mapping chain like any other round.

    Reference parity: Components.C computes the same min-id fixpoint;
    the contraction schedule is the standard MapReduce-CC local-
    aggregation family (Kiveris et al., "Connected Components in
    MapReduce and Beyond" — public literature), re-expressed as Arrow
    kernels + DataFrame aggregation."""
    if edges is None:
        tier, _, view = resolve_tier(graph, "cc_contract")
        if tier != "distributed":
            # declared closure: every component is inside one closure
            # group, so the single-pass closed kernel is exact — no
            # coupling rounds, no pair-stream sort-shuffle (closed.py)
            from ligra_spark.algorithms.closed import (
                connected_components_closed,
            )

            return connected_components_closed(view, metrics=metrics)
        edges = graph.edges_derived
    edges = edges.select("src", "dst")

    # defined inline so cloudpickle ships it by value — executors need
    # no importable ligra_spark on their path
    def _local_cc_kernel(batches):
        """Per-partition subgraph contraction (Arrow → numpy, no per-row
        Python): collect the partition's edges, run vectorized min-label
        propagation with pointer doubling to local convergence, and emit
        one ``(v, lab)`` row per distinct vertex, ``lab`` = min vertex id
        of v's partition-local component. Memory is O(partition edges) —
        bounded by ``spark.sql.files.maxPartitionBytes`` / the graph's
        ``num_partitions``, exactly the budget any Arrow-batch operator
        already assumes."""
        import numpy as np
        import pyarrow as pa

        srcs, dsts = [], []
        for batch in batches:
            srcs.append(batch.column(0).to_numpy(zero_copy_only=False))
            dsts.append(batch.column(1).to_numpy(zero_copy_only=False))
        if not srcs:
            return
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        if src.size == 0:
            return
        ids = np.unique(np.concatenate([src, dst]))  # sorted
        # int32 local indices when the partition's vertex count allows
        # (always, at sane partition sizes): the kernel is bound by the
        # random gathers lab[s]/lab[lab]/minimum.at — the exact pattern
        # tools/membw_profile measures — so halving the element width
        # halves the random-access traffic per pass (r03 verdict item
        # 9; labels here are LOCAL ranks, remapped through ids[] at
        # emit, so the downcast never touches global 64-bit vertex ids)
        idx_t = np.int32 if len(ids) < 2**31 else np.int64
        s = np.searchsorted(ids, src).astype(idx_t, copy=False)
        d = np.searchsorted(ids, dst).astype(idx_t, copy=False)
        lab = np.arange(len(ids), dtype=idx_t)
        # Shiloach-Vishkin: hook each edge's two ROOTS to their min
        # (updating roots — not endpoints — is what merges whole trees
        # per pass), then compress to stars by pointer doubling.
        # O(log component-size) passes regardless of id order; the
        # naive endpoint-update variant needs O(path length) passes on
        # chains with random ids (measured 40 sweeps on transcripts).
        while True:
            before = lab.copy()
            rs = lab[s]
            rd = lab[d]
            m = np.minimum(rs, rd)
            np.minimum.at(lab, rs, m)
            np.minimum.at(lab, rd, m)
            while True:  # full compression: O(log) passes, all C-speed
                l2 = lab[lab]
                if np.array_equal(l2, lab):
                    break
                lab = l2
            if np.array_equal(lab, before):
                break
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids), pa.array(ids[lab])], ["v", "lab"]
        )


    mappings: list[DataFrame] = []
    own_edges: DataFrame | None = None  # round ≥2 edge tables we created
    prev_residual: int | None = None
    timer = Timer()
    from pyspark.sql import Window

    for it in range(max_rounds):
        # One edge-sized sort-shuffle per round: the window over v
        # yields both the mapping (first row per v carries the min
        # label) and the residual couplings (rows whose label isn't the
        # min) in a single pass — no pairs⋈mapping join, no checkpoint
        # of the raw pairs stream, no object-hash aggregation
        # (collect_set measured 4× slower: ObjectHashAggregate falls
        # back to sort-based with per-group array building).
        pairs = edges.mapInArrow(_local_cc_kernel, "v long, lab long")
        w = Window.partitionBy("v").orderBy("lab")
        x = pairs.select(
            "v",
            "lab",
            F.row_number().over(w).alias("rn"),
            F.first("lab").over(w).alias("gl"),
        )
        x = materialize(
            x.where((F.col("rn") == 1) | (F.col("lab") != F.col("gl")))
        )
        glob = x.where(F.col("rn") == 1).select("v", "gl")
        # residual count rides the materialization action
        obs = Observation(f"cc_resid_{it}")
        residual = materialize(
            x.where(F.col("lab") != F.col("gl"))
            .select("lab", "gl")
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        n_residual = int(obs.get["n"] or 0)
        mappings.append(glob)
        if metrics is not None:
            metrics.record(it, residual=n_residual, wall_s=timer.lap())
        if n_residual == 0:
            break
        if prev_residual is not None and n_residual > stall_ratio * prev_residual:
            # layout gives no leverage (scattered long paths) — finish
            # the contracted residual with the O(log)-round hash-min
            # fixpoint; it runs on a graph already shrunk by the local
            # rounds, and its labels compose like any other mapping
            rest = connected_components(
                Graph(
                    residual.select(
                        F.col("lab").alias("src"), F.col("gl").alias("dst")
                    ),
                    num_partitions=graph.num_partitions,
                ),
                symmetrize=True,
            )
            mappings.append(rest.select(
                F.col("id").alias("v"), F.col("comp").alias("gl")
            ))
            if metrics is not None:
                metrics.record(it + 1, residual=0, fallback="hashmin",
                               wall_s=timer.lap())
            break
        prev_residual = n_residual
        if own_edges is not None:
            unpersist(own_edges)
        own_edges = residual  # already materialized; next round reads it
        edges = residual.select(
            F.col("lab").alias("src"), F.col("gl").alias("dst")
        )
    else:
        raise RuntimeError(
            f"cc_contract_local did not converge in {max_rounds} rounds"
        )

    # resolve: compose mappings from the last (smallest) backward, then
    # apply the composite to round 1's vertex-sized mapping once
    comp = mappings[-1]
    for m_r in reversed(mappings[:-1]):
        step = comp.select(F.col("v").alias("gl"), F.col("gl").alias("gl2"))
        comp = m_r.join(step, "gl", "left").select(
            "v", F.coalesce("gl2", "gl").alias("gl")
        )
    out = comp.select(F.col("v").alias("id"), F.col("gl").alias("comp"))
    if own_edges is not None:
        unpersist(own_edges)
    return out


def bfs_components(
    graph: Graph,
    symmetrize: bool = True,
    max_comps: int = 10_000,
    metrics: IterMetrics | None = None,
    on_overflow: str = "error",
    roots_per_wave: int = 32,
) -> DataFrame:
    """``(id, comp)`` — components via repeated BFS (BFSCC.C:31-73),
    the low-diameter-graph strategy: BFS from the smallest unvisited
    vertices and label their whole components. Rooting at ascending
    ids makes every component's label its min id, so the output equals
    hash-min label propagation exactly (and shares its oracle); only
    the schedule differs.

    ``roots_per_wave`` roots run in ONE multi-root min-label BFS
    fixpoint per wave instead of one driver-blocking fixpoint per
    component. This is exact: the wave's roots are the ``k`` smallest
    remaining ids and earlier waves flood whole components, so any
    component a root touches has its min id ≤ that root and still
    remaining — hence also in the root set — and min-label flooding
    converges to exactly that min id. Waves cut the driver round-trips
    from O(#components · diameter) to O(#components/k · diameter).

    Each BFS fixpoint is a sequence of driver-blocking Spark jobs, so
    this strategy only makes sense when #components is SMALL (a few
    giant low-diameter components). Real sparse graphs — including the
    engine's own per-user event chains, where #components ≈ #users —
    routinely exceed any reasonable cap, and a silently truncated
    labeling is worse than no answer. So when ``max_comps`` roots are
    exhausted with vertices still unlabeled, ``on_overflow`` decides:

    - ``'error'`` (default): raise, naming ``connected_components`` as
      the many-component tool;
    - ``'fallback'``: label the remainder with one
      ``connected_components`` run (exact same fixpoint, O(log) rounds
      regardless of component count)."""
    from ligra_spark.algorithms._iter import materialize_counted

    if on_overflow not in ("error", "fallback"):
        raise ValueError("on_overflow must be 'error' or 'fallback'")
    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph
    remaining = materialize(g.vertices)
    out = g.spark.createDataFrame([], "id long, comp long")
    timer = Timer()
    comps_done = 0
    wave = 0
    while comps_done < max_comps:
        k = min(roots_per_wave, max_comps - comps_done)
        roots, n_roots = materialize_counted(
            remaining.orderBy("id").limit(k).select(
                "id", F.col("id").alias("comp")
            ),
            name=f"bfscc_roots_{wave}",
        )
        if n_roots == 0:
            unpersist(roots)
            return out
        # multi-root min-label flood to fixpoint: frontier = vertices
        # whose label changed this round (newly reached or improved)
        vis = materialize(roots.withColumn("_chg", F.lit(True)))
        unpersist(roots)
        frontier = vis
        while True:
            msgs = (
                frontier.select(F.col("id").alias("src"), "comp")
                .join(g.edges_by_src, "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("comp").alias("_mc"))
            )
            obs = Observation(f"bfscc_{wave}_chg")
            merged = (
                vis.drop("_chg")
                .join(msgs, "id", "full")
                .select(
                    "id",
                    F.least(
                        F.coalesce("comp", F.lit(1 << 62)),
                        F.coalesce("_mc", F.lit(1 << 62)),
                    ).alias("comp"),
                    (
                        F.col("_mc").isNotNull()
                        & (
                            F.col("comp").isNull()
                            | (F.col("_mc") < F.col("comp"))
                        )
                    ).alias("_chg"),
                )
                .observe(obs, F.sum(F.col("_chg").cast("long")).alias("n"))
            )
            vis = materialize(merged, vis)
            if int(obs.get["n"] or 0) == 0:
                break
            frontier = vis.where("_chg")
        reached = vis.select("id", "comp")
        # cumulative components labeled = rows whose label is their own
        # id (each wave's winning labels are exactly such roots); rides
        # the union's materialization action
        obs_c = Observation(f"bfscc_done_{wave}")
        out = materialize(
            out.unionAll(reached).observe(
                obs_c,
                F.sum((F.col("id") == F.col("comp")).cast("long")).alias("c"),
            ),
            out,
        )
        comps_done = int(obs_c.get["c"] or 0)
        remaining = materialize(
            remaining.join(vis.select("id"), "id", "left_anti"), remaining
        )
        unpersist(vis)
        if metrics is not None:
            metrics.record(wave, roots=n_roots, wall_s=timer.lap())
        wave += 1
    n_left = remaining.count()
    if n_left == 0:
        return out
    if on_overflow == "fallback":
        # The remaining set is closed under connectivity (anything
        # touching a labeled vertex was swallowed by that BFS), so a
        # src-side semi-join on the symmetric edge set is the exact
        # induced remainder subgraph.
        rest_edges = g.edges_by_src.join(
            remaining.select(F.col("id").alias("src")), "src", "left_semi"
        )
        rest = connected_components(
            Graph(
                rest_edges,
                num_partitions=g.num_partitions,
                symmetric=True,
            ),
            symmetrize=False,
        )
        # vertices isolated within the remainder keep their own id
        rest = remaining.select("id").join(rest, "id", "left").select(
            "id", F.coalesce("comp", "id").alias("comp")
        )
        return out.unionAll(rest)
    raise RuntimeError(
        f"bfs_components hit max_comps={max_comps} with {n_left} vertices "
        "still unlabeled — this graph has too many components for the "
        "one-BFS-per-component schedule. Use connected_components() "
        "(O(log) rounds independent of component count), raise "
        "max_comps, or pass on_overflow='fallback'."
    )
