"""Independent reference answers for the benchmark workloads.

Every oracle works on plain numpy arrays read straight from the input
parquet (never through the library or Spark), so a wrong engine result
cannot agree with its own reference by construction.

``ids`` is the sorted array of distinct vertex ids; ``src``/``dst`` are the
edge endpoint ids, one entry per input edge row (duplicates included, as
the engine sees them).
"""

from __future__ import annotations

import numpy as np

INT_MAX = 2147483647  # the engine's "unreachable" distance sentinel


def _index(ids: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Positions of ``values`` in the sorted ``ids``; every value must exist."""
    pos = np.searchsorted(ids, values)
    if len(values) and (
        pos.max(initial=0) >= len(ids) or not np.array_equal(ids[pos], values)
    ):
        raise ValueError("edge endpoint missing from the vertex set")
    return pos


def delta_pagerank(
    ids: np.ndarray,
    src: np.ndarray,
    dst: np.ndarray,
    reset_prob: float = 0.15,
    tol: float = 0.01,
    supersteps: int = 10,
) -> np.ndarray:
    """Delta PageRank after exactly ``supersteps`` supersteps, normalized to
    sum 1 (the GraphX formulation the engine documents): every vertex starts
    with rank = delta = ``reset_prob``; each superstep a vertex whose last
    delta exceeded ``tol`` sends delta / out_degree along every out-edge,
    and the receiver adds ``(1 - reset_prob) * sum(messages)`` to its rank
    and takes that amount as its new delta."""
    n = len(ids)
    si, di = _index(ids, src), _index(ids, dst)
    out_degree = np.bincount(si, minlength=n).astype(np.float64)
    alpha = 1.0 - reset_prob
    rank = np.full(n, reset_prob)
    delta = rank.copy()
    sending = np.ones(n, dtype=bool)
    for _ in range(supersteps):
        live = sending[si]
        share = delta[si[live]] / out_degree[si[live]]
        delta = alpha * np.bincount(di[live], weights=share, minlength=n)
        rank = rank + delta
        sending = delta > tol
    return rank / rank.sum()


def min_label_components(
    ids: np.ndarray, src: np.ndarray, dst: np.ndarray
) -> np.ndarray:
    """Weakly connected components by union-find (path halving, the smaller
    root wins each union); each vertex is labelled with the smallest id in
    its component."""
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(_index(ids, src).tolist(), _index(ids, dst).tolist()):
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    # ids are sorted, so the smallest index in a component is its min id
    return ids[np.array([find(x) for x in range(len(ids))], dtype=np.int64)]


def bfs_distances(
    ids: np.ndarray, src: np.ndarray, dst: np.ndarray, landmark: int
) -> np.ndarray:
    """Hop distance from ``landmark`` along directed edges, level by level;
    ``INT_MAX`` where unreachable (everywhere if the landmark is absent)."""
    n = len(ids)
    dist = np.full(n, INT_MAX, dtype=np.int64)
    at = np.searchsorted(ids, landmark)
    if at >= n or ids[at] != landmark:
        return dist
    si, di = _index(ids, src), _index(ids, dst)
    dist[at] = 0
    frontier = np.zeros(n, dtype=bool)
    frontier[at] = True
    level = 0
    while frontier.any():
        level += 1
        reached = di[frontier[si]]
        reached = np.unique(reached[dist[reached] == INT_MAX])
        dist[reached] = level
        frontier = np.zeros(n, dtype=bool)
        frontier[reached] = True
    return dist
