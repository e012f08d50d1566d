"""Community detection by synchronous label propagation.

The reference's Components.C *is* hash-min label propagation (its
functor, Components.C:26-41, literally propagates minimum labels), and
Components-Shortcut.C:25-27 cites the shortcutted-LP paper. Classic
most-frequent-label community LP is the same edgeMap skeleton with the
combiner swapped from ``min`` to ``mode``: each round every vertex
adopts the most frequent label among its neighbors, breaking ties by
**minimum label** so rounds are deterministic and reproducible across
partitionings (SURVEY.md §2.6).

Mode runs as ONE hash aggregation: ``mode(label, deterministic=true)``
is a TypedImperativeAggregate whose partial state is a per-destination
label→count map built MAP-SIDE, so only the partial maps shuffle — one
exchange per round, keyed by dst. (Rounds 1-3 ran it as two chained
aggregations, ``groupBy(dst,label).count()`` then an argmax; the second
exchange was ~40% of per-round wall at bench scale — VERDICT r03 item
1.) Deterministic mode breaks frequency ties by MINIMUM value, exactly
the reference-style deterministic tie-break the oracle replays. Partial
maps stay small: a destination's map is bounded by its neighbors'
distinct labels, and hub skew is absorbed by the map-side combine the
same way the count form was.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import IterMetrics, Timer, materialize
from ligra_spark.algorithms._tier import resolve_tier
from ligra_spark.graph import Graph


def label_propagation(
    graph: Graph,
    max_iters: int = 20,
    symmetrize: bool = True,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Returns ``(id LONG, label LONG)`` after convergence or
    ``max_iters`` synchronous rounds.

    ``resolve_tier`` sends closure-keyed graphs and graphs with ``m <=
    LIGRA_LOCAL_GRAPH_EDGES`` to the fused closed.py kernel (over the
    closed partitions, or over the whole graph as one partition): one
    Arrow pass, bit-identical labels (a closed partition at a local
    fixpoint is fixed forever, so per-partition early stop composes
    into the exact global changed==0 stopping rule)."""
    tier, _, view = resolve_tier(graph, "lp")
    if tier != "distributed":
        from ligra_spark.algorithms.closed import label_propagation_closed

        return label_propagation_closed(
            view,
            max_iters=max_iters,
            symmetrize=symmetrize and not graph.symmetric,
            metrics=metrics,
        )
    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph
    state = materialize(g.vertices.select("id", F.col("id").alias("label")))

    timer = Timer()
    for it in range(max_iters):
        # single-exchange mode: partial label->count maps combine
        # map-side, ties break to the minimum label (deterministic)
        best = (
            state.withColumnRenamed("id", "src")
            .join(g.edges_by_src, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.expr("mode(label, true)").alias("new_label"))
        )
        nxt = state.join(best, "id", "left").select(
            "id",
            "label",
            F.coalesce("new_label", "label").alias("label_next"),
        )
        # changed-count rides the materialization action (one driver
        # job per round instead of two)
        obs = Observation(f"lp_changed_{it}")
        nxt = nxt.observe(
            obs,
            F.sum(
                (F.col("label") != F.col("label_next")).cast("long")
            ).alias("changed"),
        )
        nxt = materialize(nxt, state)
        changed = int(obs.get["changed"] or 0)
        state = nxt.select("id", F.col("label_next").alias("label"))
        state._ligra_ckpt = getattr(nxt, "_ligra_ckpt", nxt)
        if metrics is not None:
            metrics.record(it, changed=changed, wall_s=timer.lap())
        if changed == 0:
            break
    return state
