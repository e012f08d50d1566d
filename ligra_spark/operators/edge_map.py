"""edgeMap — the engine's core gather-scatter operator.

Reference semantics (ligra.h:279-283 → edgeMapData ligra.h:233-276):
apply ``F.update(s, d [, w])`` over every edge out of the frontier,
resolve concurrent writes to the same destination with an atomic
combiner (``writeAdd``/``writeMin``/``writeOr``/CAS, utils.h:304-364),
and return the set of updated destinations. Ligra picks between a
sparse *push* traversal and a dense *pull* traversal by comparing
``|frontier| + Σ out_degree(frontier)`` against ``m/20`` (ligra.h:238,
261).

Spark realization: the atomic combiner is exactly a partial+final hash
aggregation — ``groupBy(dst).agg(combiner(message))`` — so the operator
is a join + aggregation whose *physical strategy* is the direction
choice:

- **push / broadcast plan** (``'broadcast'``, small frontier):
  broadcast the frontier and probe the ``dst``-partitioned edge table.
  The join preserves the edge table's hash partitioning on ``dst``, so
  the message aggregation needs **no exchange at all** — a
  zero-shuffle iteration. (Cost: a full scan of the cached columnar
  edge table, which whole-stage codegen makes cheap.)
- **dense / co-partitioned plan** (``'shuffle'``, large or
  whole-vertex frontier): join the frontier against the
  ``src``-partitioned edge table, then shuffle only the
  partially-aggregated messages into ``groupBy(dst)``. Loop state
  comes out of ``materialize``, which rebuilds it over its checkpointed
  RDD, so Spark knows nothing of its partitioning: the frontier is
  exchanged on ``src`` to meet the cached edge table, or, when AQE
  finds a side under the broadcast threshold (the edge table of the
  transcript benchmark graph), that side is broadcast instead.

Skew: hub destinations are handled by Spark's partial (map-side)
aggregation — each task pre-combines its messages per ``dst`` before the
exchange — plus AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ligra_spark.graph import Graph

# updateAtomic analogs (utils.h:304-364): every reference app's combiner
# is commutative+associative, which is what Spark's partial+final
# aggregation requires. CAS-claim-once (BFS.C:33-35) maps to `min` for a
# deterministic winner.
COMBINERS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count(F.lit(1)),
    "bit_or": F.bit_or,
    "bit_and": F.bit_and,
    "any": F.max,  # over booleans
}

# Below this many frontier rows, ship the frontier to every task instead
# of shuffling messages (the m/20 analog, retuned for shuffle cost).
DEFAULT_BROADCAST_ROWS = 2_000_000


def frontier_stats(graph: Graph, frontier: DataFrame) -> tuple[int, int]:
    """(size, Σ out_degree) of the frontier — the quantities Ligra's
    scheduler compares against m/20 (ligra.h:248-261)."""
    row = (
        frontier.join(graph.degrees, "id", "left")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.coalesce(F.sum("out_deg"), F.lit(0)).alias("outdeg"),
        )
        .first()
    )
    return int(row["size"]), int(row["outdeg"])


def edge_map(
    graph: Graph,
    frontier: DataFrame | None,
    message: Column | str = "src",
    combiner: str = "min",
    *,
    direction: str = "auto",
    frontier_size: int | None = None,
    broadcast_rows: int = DEFAULT_BROADCAST_ROWS,
) -> DataFrame:
    """Gather ``message`` along every out-edge of ``frontier`` and
    combine per destination.

    Parameters
    ----------
    frontier : DataFrame ``(id [, payload...])`` or None for the
        all-vertices frontier (PageRank.C:80-87 pattern). Payload
        columns are visible to ``message`` alongside ``src``/``dst``/
        ``w``.
    message : Column expression evaluated per live edge.
    combiner : one of COMBINERS — the ``updateAtomic`` analog.
    direction : 'auto' | 'broadcast' | 'shuffle'. 'auto' applies the
        m/20 rule below; the all-vertices frontier always shuffles.
    frontier_size : pass a known size to skip the stats job in 'auto'.

    Returns ``(id, msg)`` — one row per destination that received at
    least one message (the new-frontier candidate set; ``cond``/apply
    filtering is the caller's algorithm logic).
    """
    if combiner not in COMBINERS:
        raise ValueError(f"unknown combiner {combiner!r}; use {sorted(COMBINERS)}")
    agg = COMBINERS[combiner]
    msg_col = F.col(message) if isinstance(message, str) else message

    if frontier is None:
        # Whole-vertex-set frontier: always the co-partitioned plan.
        live = graph.edges_by_src
    else:
        fr = frontier.withColumnRenamed("id", "src")
        if direction == "auto":
            if frontier_size is None:
                frontier_size = frontier.count()
            # the m/20 rule (ligra.h:238) recast for Spark: broadcast
            # (zero-shuffle) only when the frontier is small relative to
            # the edge count — building a per-task hash relation over a
            # huge frontier costs more than one bounded message shuffle
            chosen = (
                "broadcast"
                if frontier_size <= broadcast_rows
                and frontier_size * 20 <= graph.m
                else "shuffle"
            )
        else:
            chosen = direction
        if chosen == "broadcast":
            live = graph.edges_by_dst.join(F.broadcast(fr), "src", "inner")
        else:
            live = graph.edges_by_src.join(fr, "src", "inner")

    msgs = live.select(F.col("dst").alias("id"), msg_col.alias("_m"))
    return msgs.groupBy("id").agg(agg(F.col("_m")).alias("msg"))


def edge_map_count(
    graph: Graph,
    frontier: DataFrame | None,
    predicate: Column | None = None,
    by: str = "src",
) -> DataFrame:
    """edgeMapFilter / edgeMapCount analog (ligra.h:336-368,
    edgeMapReduce.h:76-81). The frontier always gates the edge SOURCES
    (both reference forms iterate the frontier's out-edges); ``by``
    selects the grouping side:

    - ``by='src'``: per frontier member, how many of its out-edges
      satisfy ``predicate`` (the edgeMapFilter count, ligra.h:344-350).
    - ``by='dst'``: per destination, how many frontier in-neighbors it
      has (the edgeMapCount histogram, edgeMapReduce.h:76-81) — e.g.
      KCore's per-neighbor decrement.

    Returns ``(id, cnt LONG)``."""
    edges = graph.edges_by_src
    if predicate is not None:
        edges = edges.where(predicate)
    if frontier is not None:
        fr = frontier.select(F.col("id").alias("src"))
        # planner picks broadcast vs shuffle by frontier size/stats,
        # same trade-off as edge_map's direction choice
        edges = edges.join(fr, "src")
    return edges.groupBy(F.col(by).alias("id")).agg(F.count(F.lit(1)).alias("cnt"))
