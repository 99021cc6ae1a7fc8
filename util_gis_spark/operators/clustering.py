"""DBSCAN on the Gauss plane, pure numpy (no ELKI/sklearn available).

The reference runs ELKI DBSCAN on (x, y) with Euclidean distance
(G:4499-4626), drops the Noise cluster (G:4584), and time-sorts each
cluster. For the Euclidean core-point definition DBSCAN's cluster SET
is implementation-independent (border points on two clusters are
assigned by visit order — we scan points in time order, matching the
reference's DBID order).

Grid-binned implementation: bin points into eps-sized cells; a point's
eps-neighbors live in its 3x3 cell block -> O(n * local density)
without a KD-tree. Runs per (device, window) group inside
applyInPandas — one trajectory window is one task, the reference's own
unit of work.

Presets from splitRoad (G:13767-13783): interval 1 s -> (eps 11,
minPts 30); <= 5 s -> (20, 15); else (20, 10). Dynamic eps
(G:8164-8193): min(max(1.2*width, 5*dt*1.2), 4*width).
"""

from __future__ import annotations

import numpy as np


_CELL_PACK = np.int64(1) << np.int64(32)


def _ranges_concat(starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Concatenate arange(starts[i], ends[i]) for all i, vectorized
    (the classic cumsum-of-ones trick; every range is non-empty)."""
    cnt = ends - starts
    total = int(cnt.sum())
    out = np.ones(total, dtype=np.int64)
    out[0] = starts[0]
    cum = np.cumsum(cnt)[:-1]
    out[cum] = starts[1:] - (ends[:-1] - 1)
    return np.cumsum(out)


class _GridIndex:
    """Radius-sized grid bins in CSR layout over a sorted packed
    (cx, cy) key — the shared neighbor engine behind DBSCAN and the
    parking-cloud detector. `query(idx)` returns all (src_pos,
    nb_point) pairs within radius for a batch of query points in one
    vectorized pass (9 searchsorted lookups + one distance mask;
    src_pos indexes into `idx`, self-pairs included). Key packing is
    unique while |coord/radius| << 2^31 (planar meters)."""

    def __init__(self, x: np.ndarray, y: np.ndarray, radius: float):
        self.x, self.y = x, y
        self.r2 = radius * radius
        inv = 1.0 / radius
        self.cx = np.floor(x * inv).astype(np.int64)
        self.cy = np.floor(y * inv).astype(np.int64)
        key = self.cx * _CELL_PACK + self.cy
        self.order = np.argsort(key, kind="stable")
        self.uniq_keys, self.starts = np.unique(key[self.order], return_index=True)
        self.ends = np.append(self.starts[1:], len(x))

    def query(self, idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        if len(self.uniq_keys) == 0 or len(idx) == 0:
            # an index over zero points answered every query with an
            # IndexError (uniq_keys[-1] on an empty array) — the shared
            # engine enforces its own precondition instead of every
            # caller re-implementing the n == 0 guard (r6 review)
            return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
        srcs, nbs = [], []
        base_kx = self.cx[idx]
        base_ky = self.cy[idx]
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                k = (base_kx + dx) * _CELL_PACK + (base_ky + dy)
                b = np.searchsorted(self.uniq_keys, k)
                bc = np.minimum(b, len(self.uniq_keys) - 1)
                vi = np.flatnonzero(self.uniq_keys[bc] == k)
                if not len(vi):
                    continue
                s, e = self.starts[bc[vi]], self.ends[bc[vi]]
                src = np.repeat(vi, e - s)
                cand = self.order[_ranges_concat(s, e)]
                d2 = (self.x[cand] - self.x[idx[src]]) ** 2 + (self.y[cand] - self.y[idx[src]]) ** 2
                m = d2 <= self.r2
                srcs.append(src[m])
                nbs.append(cand[m])
        if not srcs:
            return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
        return np.concatenate(srcs), np.concatenate(nbs)


def np_dbscan(xy: np.ndarray, eps: float, min_pts: int) -> np.ndarray:
    """Cluster labels per point: -1 = noise, else 0..k-1 in order of
    cluster discovery (points scanned in input = time order).

    Fully vectorized: the grid bins are a CSR layout over a sorted
    packed (cx, cy) key; neighbor queries run for a whole BFS frontier
    at once (9 searchsorted lookups + one distance mask), core flags
    are precomputed in one pass. Label semantics are identical to the
    sequential BFS: cluster ids follow seed scan order, border points
    go to the first cluster that reaches them (within a cluster,
    frontier-level batching reaches the same points as the per-point
    queue)."""
    n = len(xy)
    labels = np.full(n, -1, dtype=np.int64)
    if n == 0:
        return labels
    x, y = np.ascontiguousarray(xy[:, 0]), np.ascontiguousarray(xy[:, 1])
    grid = _GridIndex(x, y, eps)
    neighbors_of = grid.query

    # Lazy core detection: each point's neighborhood is computed AT
    # MOST once over the whole run (exactly the sequential algorithm's
    # work), but whole frontier levels are batched. `expanded` tracks
    # "neighborhood computed" (the sequential `visited`).
    expanded = np.zeros(n, dtype=bool)
    cluster = 0
    for i in range(n):
        if labels[i] != -1 or expanded[i]:
            continue
        expanded[i] = True
        one = np.array([i], dtype=np.int64)
        _s, nb = neighbors_of(one)
        if len(nb) < min_pts:
            continue  # noise (may be claimed as border later)
        labels[i] = cluster
        fresh = nb[labels[nb] == -1]
        labels[fresh] = cluster
        frontier = fresh[~expanded[fresh]]
        while len(frontier):
            expanded[frontier] = True
            src, nb = neighbors_of(frontier)
            counts = np.bincount(src, minlength=len(frontier))
            is_core_src = counts >= min_pts
            nb = nb[is_core_src[src]]
            fresh = np.unique(nb[labels[nb] == -1])
            labels[fresh] = cluster
            frontier = fresh[~expanded[fresh]]
        cluster += 1
    return labels


def eps_minpts_preset(interval_s: int) -> tuple[float, int]:
    """splitRoad presets (G:13767-13783)."""
    if interval_s == 1:
        return 11.0, 30
    if interval_s <= 5:
        return 20.0, 15
    return 20.0, 10


def dynamic_eps(width: float, interval_s: float) -> float:
    """eps = min(max(1.2*width, 5*dt*1.2), 4*width) (G:8164-8193)."""
    return float(min(max(1.2 * width, 5.0 * interval_s * 1.2), 4.0 * width))


def dynamic_eps_expr(width, interval_s):
    """Column form of dynamic_eps, same multiplication order as the
    scalar ((5.0*dt)*1.2 — left-assoc in Python, Spark and DuckDB), so
    the SQL restatement is bit-identical. Inputs must be non-null
    (least/greatest NULL-skip, see geo/cells.py)."""
    from pyspark.sql import functions as F

    return F.least(
        F.greatest(F.lit(1.2) * width, F.lit(5.0) * interval_s * F.lit(1.2)),
        F.lit(4.0) * width,
    )


def eps_minpts_preset_exprs(interval_s):
    """Column form of eps_minpts_preset: (eps, min_pts) columns from a
    whole-second interval column — the splitRoad preset ladder as a
    CASE chain in both engines."""
    from pyspark.sql import functions as F

    i = interval_s
    eps = F.when(i == 1, F.lit(11.0)).otherwise(F.lit(20.0))
    min_pts = (
        F.when(i == 1, F.lit(30)).when(i <= 5, F.lit(15)).otherwise(F.lit(10))
    ).cast("int")
    return eps, min_pts
