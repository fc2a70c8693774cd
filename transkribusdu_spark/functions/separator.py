"""Linear separator (SURVEY.md §2.8 C7; reference
``util/statSeparator.py:11-27`` wraps sklearn's linear SVC).

No sklearn in this container, and none needed: for two SEPARABLE point
sets the max-margin separator is the perpendicular bisector of the
closest pair of points between the two convex hulls. Exact, closed
form, deterministic — computed with a monotone-chain hull and a
brute-force point/segment distance over hull edges (separator inputs
are small: cluster centroids, cut candidates).

Returns (a, b) for the line y = a*x + b, matching the reference's
return convention (``statSeparator.py:22-26``).
"""

from __future__ import annotations

import numpy as np


def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew monotone chain; returns hull vertices in CCW order."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
    pts = pts[np.r_[True, (pts[1:] != pts[:-1]).any(axis=1)]]  # drop repeats
    if len(pts) <= 2:
        return pts
    xy = pts.tolist()

    def half(order):
        out: list[int] = []
        for i in order:
            while len(out) >= 2 and _cross(xy[out[-2]], xy[out[-1]], xy[i]) <= 0:
                out.pop()
            out.append(i)
        return out

    lower = half(range(len(xy)))
    upper = half(range(len(xy) - 1, -1, -1))
    return pts[lower[:-1] + upper[:-1]]


def _cross(o: list, a: list, p: list) -> float:
    """The 2-D cross product (a - o) x (p - o) on Python floats, in
    ``np.cross``'s operation order (so the same value), without its
    per-call array handling."""
    return (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0])


def _seg_point_closest(p: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    ab = b - a
    denom = float(ab @ ab)
    t = 0.0 if denom == 0 else float(np.clip((p - a) @ ab / denom, 0.0, 1.0))
    return a + t * ab


def _closest_pair_between_hulls(ha: np.ndarray, hb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Closest points (p in hull A, q in hull B) by brute force over
    vertex-vs-edge pairs (exact for disjoint convex polygons)."""
    best = None
    best_pq = None

    def edges(h):
        if len(h) == 1:
            return [(h[0], h[0])]
        return [(h[i], h[(i + 1) % len(h)]) for i in range(len(h))]

    for p in ha:
        for a, b in edges(hb):
            q = _seg_point_closest(p, a, b)
            d = float(np.sum((p - q) ** 2))
            if best is None or d < best:
                best, best_pq = d, (p.copy(), q.copy())
    for q in hb:
        for a, b in edges(ha):
            p = _seg_point_closest(q, a, b)
            d = float(np.sum((p - q) ** 2))
            if best is None or d < best:
                best, best_pq = d, (p.copy(), q.copy())
    return best_pq


def get_linear_separator(X: np.ndarray, Y: np.ndarray) -> tuple[float, float]:
    """Max-margin line y = a*x + b between classes Y==0 and Y==1
    (reference ``getLinearSeparator`` semantics, sklearn-free)."""
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y)
    ha = convex_hull(X[Y == 1])
    hb = convex_hull(X[Y == 0])
    p, q = _closest_pair_between_hulls(ha, hb)
    w = p - q  # normal direction, pointing to class 1
    m = (p + q) / 2.0
    if abs(w[1]) < 1e-12:
        raise ValueError("separator is vertical; no y = a*x + b form")
    a = -w[0] / w[1]
    b = float(w @ m) / w[1]
    return float(a), float(b)


def linear_separator_1d(values: np.ndarray, labels: np.ndarray) -> tuple[float, float]:
    """1-D special case (projection-profile cuts): returns (threshold,
    margin) where threshold is the midpoint of the empty gap between the
    classes and margin the gap width. Raises if not separable."""
    v0 = np.asarray(values)[np.asarray(labels) == 0]
    v1 = np.asarray(values)[np.asarray(labels) == 1]
    lo_cls, hi_cls = (v0, v1) if v0.max() < v1.min() else (v1, v0)
    if lo_cls.max() >= hi_cls.min():
        raise ValueError("classes are not 1-D separable")
    return float((lo_cls.max() + hi_cls.min()) / 2.0), float(hi_cls.min() - lo_cls.max())
