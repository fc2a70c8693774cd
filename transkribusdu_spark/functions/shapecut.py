"""Cut-validity / half-plane partition queries (SURVEY.md §2.8 C8;
reference ``util/Shape.py:300-430`` ShapePartition, which wraps shapely
+ an R-tree).

No shapely in this container — and none needed for the document case:
every queried object is an axis-aligned box and every cut is a straight
segment, so the queries reduce to closed-form interval arithmetic,
fully vectorized over numpy arrays. Y axis points down (screen
coordinates), matching the reference's above = smaller y.

The distributed cut query (:func:`valid_horizontal_cuts`) runs the
per-page gap scan in one Arrow kernel call per document behind one url
shuffle (``pipeline.perdoc.per_url``).
"""

from __future__ import annotations

import numpy as np


class BoxPartition:
    """Partition queries over N axis-aligned boxes [[x1,y1,x2,y2], ...]."""

    def __init__(self, boxes) -> None:
        b = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        self.x1, self.y1, self.x2, self.y2 = b[:, 0], b[:, 1], b[:, 2], b[:, 3]

    def _line_extremes(self, xa, ya, xb, yb):
        """Per box: (min, max) of the cut line's y over the box's
        x-overlap with the segment's x-span; NaN where no x-overlap."""
        if xa > xb:
            xa, ya, xb, yb = xb, yb, xa, ya
        lo = np.maximum(self.x1, xa)
        hi = np.minimum(self.x2, xb)
        ok = hi >= lo
        if xb == xa:
            # vertical segment: it spans [min(ya,yb), max(ya,yb)] at x=xa
            f_lo = np.full_like(lo, min(ya, yb))
            f_hi = np.full_like(lo, max(ya, yb))
        else:
            slope = (yb - ya) / (xb - xa)
            f_lo = ya + slope * (lo - xa)
            f_hi = ya + slope * (hi - xa)
        return ok, np.minimum(f_lo, f_hi), np.maximum(f_lo, f_hi)

    def intersecting_ribbon(self, xa, ya, xb, yb, h: float = 0.0) -> np.ndarray:
        """Indices of boxes intersecting the ribbon between the cut line
        and the same line shifted down by ``h`` (h=0: the segment)."""
        ok, fmin, fmax = self._line_extremes(xa, ya, xb, yb)
        hit = ok & (fmax >= self.y1 - h) & (fmin <= self.y2)
        return np.nonzero(hit)[0]

    def is_valid_cut(self, xa, ya, xb, yb) -> bool:
        """C8 isValidCut: the segment passes between the boxes."""
        return len(self.intersecting_ribbon(xa, ya, xb, yb, 0.0)) == 0

    def is_valid_ribbon_cut(self, xa, ya, xb, yb, h: float) -> bool:
        """C8 isValidRibbonCut: a ribbon of height h fits between boxes."""
        return len(self.intersecting_ribbon(xa, ya, xb, yb, h)) == 0

    def above_line(self, xa, ya, xb, yb) -> tuple[int, ...]:
        """Boxes intersecting the half-plane ABOVE the cut (y <= line),
        limited to the segment's x-span (reference getObjectAboveLineByIds)."""
        ok, _, fmax = self._line_extremes(xa, ya, xb, yb)
        return tuple(np.nonzero(ok & (fmax >= self.y1))[0])

    def below_line(self, xa, ya, xb, yb) -> tuple[int, ...]:
        ok, fmin, _ = self._line_extremes(xa, ya, xb, yb)
        return tuple(np.nonzero(ok & (fmin <= self.y2))[0])

    def left_of_line(self, xa, ya, xb, yb) -> tuple[int, ...]:
        """Transpose symmetry: swap axes and reuse the above-line query."""
        t = BoxPartition(np.stack([self.y1, self.x1, self.y2, self.x2], axis=1))
        return t.above_line(ya, xa, yb, xb)

    def right_of_line(self, xa, ya, xb, yb) -> tuple[int, ...]:
        t = BoxPartition(np.stack([self.y1, self.x1, self.y2, self.x2], axis=1))
        return t.below_line(ya, xa, yb, xb)


def page_cut_rows(boxes: list[tuple[float, float, float, float]]) -> list[dict]:
    """All valid full-width horizontal cuts for one page's boxes: cut
    y = midpoint of every gap in the running union of y-intervals (sort
    by y1, running max y2). The partition is counted FROM THE GAP SCAN
    itself — every earlier box ends above the gap, every later box
    starts below it, so ``n_above = i`` positionally, exactly the
    window-function gap scan the DuckDB oracle runs (a box lying
    outside the page's x-range counts like any other). Every cut passes
    :meth:`BoxPartition.is_valid_cut` across the page width; the test
    suite holds the two formulations to that agreement."""
    bs = sorted(boxes, key=lambda b: (b[1], b[3], b[0]))  # by y1, y2, x1
    n = len(bs)
    out: list[dict] = []
    runmax = None
    for i, b in enumerate(bs):
        if i > 0 and b[1] > runmax:
            out.append({"cut_idx": len(out), "cut_y": (runmax + b[1]) / 2.0,
                        "n_above": i, "n_below": n - i})
        runmax = b[3] if runmax is None else max(runmax, b[3])
    return out


def valid_horizontal_cuts(nodes) -> "DataFrame":  # noqa: F821
    """C8 as a distributed query: per (url, page) the valid full-width
    horizontal cuts with their half-plane partition sizes. One url
    shuffle and one Arrow kernel call per document, like the edge
    builder (``pipeline.perdoc.per_url``)."""
    from pyspark.sql import types as T

    from ..pipeline.perdoc import per_url

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("page_num", T.IntegerType()),
            T.StructField("cut_idx", T.IntegerType()),
            T.StructField("cut_y", T.DoubleType()),
            T.StructField("n_above", T.LongType()),
            T.StructField("n_below", T.LongType()),
        ]
    )

    def run(c):
        out: dict[str, list] = {f.name: [] for f in schema.fields}
        for p in np.unique(c["page_num"]):
            rows = np.flatnonzero(c["page_num"] == p)
            boxes = list(zip(*(c[k][rows].tolist() for k in ("x1", "y1", "x2", "y2"))))
            for r in page_cut_rows(boxes):
                out["url"].append(c["url"][0])
                out["page_num"].append(int(p))
                for k, v in r.items():
                    out[k].append(v)
        return out

    return per_url(schema, run, nodes.select("url", "page_num", "x1", "y1", "x2", "y2"))
