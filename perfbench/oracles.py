"""Reference results for the benchmark's output gate.

Every oracle here is written from the algorithms' published semantics
(Ligra's PageRank.C / Components.C, synchronous most-frequent-label
propagation, exact triangle counting) in plain numpy or DuckDB SQL. None
of it imports ``ligra_spark``: the gate must still catch a defect that
the engine and a shared helper would both carry.

Vertex ids are arbitrary int64 values. ``np.unique`` maps them to dense
indices in id order, so "minimum id" and "minimum dense index" pick the
same vertex and the tie-breaks below work on dense indices.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

PR_DAMPING = 0.85
PR_TOL = 1e-7


def simple_edges(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``Graph(dedupe=True)`` semantics: self-loops dropped, one row per
    distinct directed (src, dst) pair."""
    keep = src != dst
    ids, s, d = _dense(src[keep], dst[keep])
    key = np.unique(s * len(ids) + d)
    return ids[key // len(ids)], ids[key % len(ids)]


def _dense(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(src, dst, max_iters: int) -> tuple[np.ndarray, np.ndarray, int]:
    """``(ids, ranks, rounds)``: damping 0.85, init 1/n, stop when the L1
    change drops below 1e-7, sink mass leaks (PageRank.C never
    redistributes it). Duplicate edges count with their multiplicity,
    as they do in the engine's edge table."""
    ids, s, d = _dense(src, dst)
    n = len(ids)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    p = np.full(n, 1.0 / n)
    base = (1.0 - PR_DAMPING) / n
    rounds = 0
    for _ in range(max_iters):
        share = np.divide(p, out_deg, out=np.zeros(n), where=out_deg > 0)
        nxt = base + PR_DAMPING * np.bincount(d, weights=share[s], minlength=n)
        rounds += 1
        l1 = np.abs(nxt - p).sum()
        p = nxt
        if l1 < PR_TOL:
            break
    return ids, p, rounds


def _undirected(src, dst):
    """Symmetric, deduplicated, loop-free adjacency as dense (u, v) pairs
    with each undirected edge present in both directions."""
    ids, s, d = _dense(src, dst)
    keep = s != d
    n = len(ids)
    key = np.unique(np.concatenate([s[keep] * n + d[keep], d[keep] * n + s[keep]]))
    return ids, key // n, key % n


def components(src, dst) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, comp)``: comp is the minimum id of the vertex's undirected
    component, the fixpoint of Components.C's hash-min label propagation.
    Computed as min-label rounds with pointer jumping: labels only
    decrease and stay inside the component, so the fixpoint (every label
    equal to its neighbours' and to its own label's label) is the
    component minimum."""
    ids, u, v = _undirected(src, dst)
    lab = np.arange(len(ids))
    if len(u) == 0:
        return ids, ids[lab]
    starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
    heads = u[starts]
    while True:
        nxt = lab.copy()
        nxt[heads] = np.minimum(lab[heads], np.minimum.reduceat(lab[v], starts))
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, lab):
            return ids, ids[lab]
        lab = nxt


def label_propagation(src, dst, max_iters: int) -> tuple[np.ndarray, np.ndarray, int]:
    """``(ids, label, rounds)``: synchronous rounds on the symmetrized
    simple graph; each vertex takes the most frequent neighbour label,
    ties to the smallest label; stops after a round that changes nothing
    or after ``max_iters`` rounds."""
    ids, u, v = _undirected(src, dst)
    n = len(ids)
    lab = np.arange(n)
    rounds = 0
    for _ in range(max_iters):
        # (vertex, neighbour label) pairs, counted per distinct pair
        key = np.unique(v.astype(np.int64) * n + lab[u], return_counts=True)
        vert, cand, cnt = key[0] // n, key[0] % n, key[1]
        # per vertex: highest count first, then smallest label
        order = np.lexsort((cand, -cnt, vert))
        first = np.ones(len(order), dtype=bool)
        first[1:] = vert[order][1:] != vert[order][:-1]
        best = order[first]
        nxt = lab.copy()  # a vertex without neighbours keeps its label
        nxt[vert[best]] = cand[best]
        rounds += 1
        changed = not np.array_equal(nxt, lab)
        lab = nxt
        if not changed:
            break
    return ids, ids[lab], rounds


def triangle_count(src, dst) -> int:
    """Exact triangle count of the simple undirected graph: each triangle
    a < b < c is counted once as (a,b), (b,c), (a,c)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit = '1GB'")
        con.register(
            "raw",
            pa.table({"s": np.asarray(src, np.int64), "d": np.asarray(dst, np.int64)}),
        )
        return int(
            con.execute(
                """
                WITH e AS (
                  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                  FROM raw WHERE s <> d)
                SELECT count(*) FROM e e1
                JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
                """
            ).fetchone()[0]
        )
    finally:
        con.close()


def transcript_edges(transcripts_path: str, id_map_path: str):
    """Link-graph edges of a transcripts parquet table, derived in DuckDB
    from the input's own columns: reply edges turn t -> t-1 within a
    conversation; for an assistant turn with a tool, the first later
    tool-role turn of that conversation with the same tool, linked both
    ways. Vertex ids come from ``id_map_path`` (conv_id, turn_idx, id)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit = '1GB'")
        rows = con.execute(
            f"""
            WITH t AS (SELECT conv_id, turn_idx, role, tool
                       FROM read_parquet('{transcripts_path}/*.parquet')),
            ids AS (SELECT * FROM read_parquet('{id_map_path}/*.parquet')),
            reply AS (
              SELECT conv_id, turn_idx AS a, lag(turn_idx) OVER
                (PARTITION BY conv_id ORDER BY turn_idx) AS b FROM t),
            calls AS (SELECT conv_id, turn_idx, tool FROM t
                      WHERE role = 'assistant' AND tool IS NOT NULL),
            matched AS (
              SELECT c.conv_id, c.turn_idx AS a, min(r.turn_idx) AS b
              FROM calls c JOIN t r
                ON r.conv_id = c.conv_id AND r.role = 'tool'
               AND r.tool = c.tool AND r.turn_idx > c.turn_idx
              GROUP BY c.conv_id, c.turn_idx),
            pairs AS (
              SELECT conv_id, a, b FROM reply WHERE b IS NOT NULL
              UNION ALL SELECT conv_id, a, b FROM matched
              UNION ALL SELECT conv_id, b, a FROM matched)
            SELECT i1.id, i2.id FROM pairs p
            JOIN ids i1 ON i1.conv_id = p.conv_id AND i1.turn_idx = p.a
            JOIN ids i2 ON i2.conv_id = p.conv_id AND i2.turn_idx = p.b
            """
        ).fetchnumpy()
    finally:
        con.close()
    cols = list(rows.values())
    return np.asarray(cols[0], np.int64), np.asarray(cols[1], np.int64)
