"""Pure-numpy reference implementations, faithful to the reference
kernels (math reproduced from the cited lines, no code copied):

- pagerank: damping 0.85, init 1/n, L1 < tol stop, **no dangling
  redistribution** (PageRank.C:33-40 never redistributes sink mass).
- connected components: fixpoint label = min vertex id per undirected
  component (hash-min LP fixpoint, Components.C:26-41); on a directed
  edge set, min id among the vertices that reach each vertex.
- label propagation: synchronous most-frequent-neighbor-label rounds,
  min-label tie-break.
- triangles: exact count over the simple undirected graph
  (Triangle.C:34-45 rank-directed counting counts each once).
- bfs levels, bellman-ford distances, k-core numbers.

These stand in for the Ligra binaries (no C++ toolchain guarantees in
CI) while matching their outputs exactly at fixpoint.
"""

from __future__ import annotations

from collections import Counter, defaultdict, deque

import numpy as np


def _vertices(edges: list[tuple[int, int]], extra=()) -> list[int]:
    vs = {v for e in edges for v in e[:2]}
    vs.update(extra)
    return sorted(vs)


def pagerank_oracle(
    edges: list[tuple[int, int]],
    damping: float = 0.85,
    tol: float = 1e-7,
    max_iters: int = 100,
    vertices=(),
) -> dict[int, float]:
    vs = _vertices(edges, vertices)
    idx = {v: i for i, v in enumerate(vs)}
    n = len(vs)
    out_deg = np.zeros(n)
    for s, d in edges:
        out_deg[idx[s]] += 1
    p = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(max_iters):
        contrib = np.zeros(n)
        share = np.divide(p, out_deg, out=np.zeros(n), where=out_deg > 0)
        for s, d in edges:
            contrib[idx[d]] += share[idx[s]]
        p_next = base + damping * contrib
        if np.abs(p_next - p).sum() < tol:
            p = p_next
            break
        p = p_next
    return {v: float(p[idx[v]]) for v in vs}


def components_oracle(edges, vertices=()) -> dict[int, int]:
    vs = _vertices(edges, vertices)
    parent = {v: v for v in vs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    # fixpoint of hash-min LP = min id in component
    comp_min: dict[int, int] = {}
    for v in vs:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in vs}


def directed_components_oracle(edges) -> dict[int, int]:
    """Directed hash-min fixpoint (Components.C run on an asymmetric
    edge set): each vertex ends with the minimum id among the vertices
    that reach it along directed edges, itself included."""
    vs = _vertices(edges)
    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    label = {v: v for v in vs}
    for u in vs:
        seen = {u}
        todo = [u]
        while todo:
            for w in out[todo.pop()]:
                if w not in seen:
                    seen.add(w)
                    label[w] = min(label[w], u)
                    todo.append(w)
    return label


def label_propagation_oracle(edges, max_iters=20, vertices=()) -> dict[int, int]:
    vs = _vertices(edges, vertices)
    nbrs = defaultdict(list)
    for s, d in edges:
        if s != d:
            nbrs[s].append(d)
            nbrs[d].append(s)
    # dedupe neighbor multiplicity like the engine's simple-graph view
    nbrs = {v: sorted(set(ns)) for v, ns in nbrs.items()}
    label = {v: v for v in vs}
    for _ in range(max_iters):
        new = {}
        for v in vs:
            ns = nbrs.get(v, [])
            if not ns:
                new[v] = label[v]
                continue
            counts = Counter(label[u] for u in ns)
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == label:
            break
        label = new
    return label


def triangle_count_oracle(edges) -> int:
    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    count = 0
    for v in adj:
        for u in adj[v]:
            if u > v:
                count += len(adj[v] & adj[u] & {w for w in adj[u] if w > u})
    return count


def bfs_oracle(edges, source) -> dict[int, int]:
    adj = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    dist = {source: 0}
    q = deque([source])
    while q:
        v = q.popleft()
        for u in adj[v]:
            if u not in dist:
                dist[u] = dist[v] + 1
                q.append(u)
    return dist


def bellman_ford_oracle(edges_w, source) -> dict[int, float]:
    dist = {source: 0.0}
    changed = True
    while changed:
        changed = False
        for s, d, w in edges_w:
            if s in dist and dist[s] + w < dist.get(d, float("inf")):
                dist[d] = dist[s] + w
                changed = True
    return dist


def kcore_oracle(edges, vertices=()) -> dict[int, int]:
    vs = _vertices(edges, vertices)
    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    deg = {v: len(adj.get(v, ())) for v in vs}
    core = {}
    alive = set(vs)
    k = 1
    while alive:
        while True:
            peel = [v for v in alive if deg[v] < k]
            if not peel:
                break
            for v in peel:
                core[v] = k - 1
                alive.discard(v)
                for u in adj.get(v, ()):
                    if u in alive:
                        deg[u] -= 1
        k += 1
    return core
