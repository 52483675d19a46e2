"""Reference answers computed outside the engine.

DuckDB over the same parquet the catalog reads (read chains, similarity
jobs), and plain Python for the graph jobs.  None of this runs inside a
timed region.
"""

from __future__ import annotations

import math
from collections import defaultdict, deque

import numpy as np

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duckdb_over(data_dir: str):
    """A DuckDB connection with one view per catalog table."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def close(a, b, rel: float = 1e-9) -> bool:
    """Structural equality with a relative tolerance on floats (the engine
    sums doubles through DECIMAL, DuckDB in its own order)."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(close(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(close(a[k], b[k], rel) for k in a)
    return a == b


# ---------------------------------------------------------------------------
# Graph jobs
# ---------------------------------------------------------------------------


def components(edges: np.ndarray) -> dict[int, int]:
    """vertex → smallest vertex id in its (undirected) component."""
    parent: dict[int, int] = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges.tolist():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def bfs(edges: np.ndarray, seeds: list[int], max_depth: int) -> dict[int, int]:
    """vertex → min hop distance from any seed, following edge direction."""
    adj = defaultdict(list)
    for a, b in edges.tolist():
        adj[a].append(b)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        v = q.popleft()
        if dist[v] >= max_depth:
            continue
        for w in adj[v]:
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
    return dist


def pagerank(edges: np.ndarray, iterations: int, damping: float = 0.85) -> dict[int, float]:
    """The engine's recurrence: rank₀ = 1, rank = (1-d) + d·Σ rank(u)/outdeg(u)
    over in-neighbours u; vertices with no in-edges get 1-d."""
    verts, idx = np.unique(edges, return_inverse=True)
    idx = idx.reshape(edges.shape)
    src, dst = idx[:, 0], idx[:, 1]
    outdeg = np.bincount(src, minlength=len(verts)).astype("float64")
    rank = np.ones(len(verts))
    for _ in range(iterations):
        recv = np.bincount(dst, weights=rank[src] / outdeg[src], minlength=len(verts))
        rank = (1.0 - damping) + damping * recv
    return dict(zip(verts.tolist(), rank.tolist()))
