"""Brute-force oracles — pandas/NumPy ground truth at small scale.

Re-implements the reference's runtime oracle ``CheckNearGroup``
(mbR-NGQ/Data/RTree.cs:1478-1595): exhaustive cross-category enumeration of
ALL groups (no candidate truncation), scored with GetGroupMinDist
(RTree.cs:938-966), sorted, top-k. Stricter than the reference's check —
we compare member ids under a deterministic (score, id-tuple) order, not
just the distance values (SURVEY.md §5b, §7.4).
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd


def ngq_bruteforce(docs: pd.DataFrame, qx: float, qy: float,
                   m: int, k: int, dist=None) -> pd.DataFrame:
    """Exhaustive top-k NGQ for one query over (doc_id, x, y, category).

    ``dist(ax, ay, bx, by)`` is an optional broadcasting NumPy distance
    for both the member pairs and member-to-query (e.g. the 2-dp-rounded
    haversine with x/y read as lat/lon); the default is the planar
    euclidean distance."""
    per_cat = [docs[docs.category == c] for c in range(m)]
    if any(len(p) == 0 for p in per_cat):
        return pd.DataFrame()
    xs = [p.x.to_numpy(np.float64) for p in per_cat]
    ys = [p.y.to_numpy(np.float64) for p in per_cat]
    ids = [p.doc_id.to_numpy() for p in per_cat]
    sizes = [len(i) for i in ids]

    def expand(a, axis):
        shape = [1] * m
        shape[axis] = -1
        return a.reshape(shape)

    inner = np.zeros(tuple(sizes))
    for i, j in itertools.combinations(range(m), 2):
        if dist is None:
            dx = expand(xs[i], i) - expand(xs[j], j)
            dy = expand(ys[i], i) - expand(ys[j], j)
            d = np.sqrt(dx * dx + dy * dy)
        else:
            d = dist(expand(xs[i], i), expand(ys[i], i),
                     expand(xs[j], j), expand(ys[j], j))
        np.maximum(inner, d, out=inner)
    inter = np.full(tuple(sizes), np.inf)
    for i in range(m):
        dq = (np.sqrt((xs[i] - qx) ** 2 + (ys[i] - qy) ** 2) if dist is None
              else dist(xs[i], ys[i], qx, qy))
        np.minimum(inter, expand(dq, i), out=inter)
    score = (inner + inter).ravel()
    idx = np.unravel_index(np.arange(score.size), tuple(sizes))
    member_ids = [ids[c][idx[c]] for c in range(m)]
    order = np.lexsort(tuple(member_ids[::-1]) + (score,))[:k]
    out = {"group_rank": np.arange(1, len(order) + 1)}
    for c in range(m):
        out[f"c{c}_id"] = member_ids[c][order]
    out["min_dist"] = score[order]
    return pd.DataFrame(out)


def knn_bruteforce(docs: pd.DataFrame, qx: float, qy: float, k: int) -> pd.DataFrame:
    d = np.sqrt((docs.x - qx) ** 2 + (docs.y - qy) ** 2)
    return (docs.assign(dist=d)
            .sort_values(["dist", "doc_id"])
            .head(k)
            .reset_index(drop=True))


def point_in_polygon(px: np.ndarray, py: np.ndarray,
                     vx: np.ndarray, vy: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray crossing (the exact PIP test, north_rule).

    Standard PNPOLY algorithm over many points vs one polygon; boundary
    points follow the crossing parity (consistent with the engine UDF)."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(vx)
    j = n - 1
    for i in range(n):
        # horizontal edge (vy[j] == vy[i]) can never satisfy the parity
        # test, so its crossing x is irrelevant — substitute a unit
        # denominator to keep the suite free of divide-by-zero warnings
        dy = vy[j] - vy[i]
        cross_x = (vx[j] - vx[i]) * (py - vy[i]) / (dy if dy != 0 else 1.0) \
            + vx[i]
        cond = ((vy[i] > py) != (vy[j] > py)) & (px < cross_x)
        inside ^= cond
        j = i
    return inside
