"""Edge building: per-document spatial line-of-sight self-joins.

Reference semantics (SURVEY.md §2.3): vertical/horizontal neighbour
edges via a sweep with visibility masking (``graph/Block.py:350-371,
456-688``), cross-page overlap edges on IoU >= 0.25
(``graph/Block.py:374-432``), projection-overlap IoU on each edge
(``graph/Edge.py:132-175``), coordinates grid-rounded to multiples of 2
before sweeping (``graph/Block.py:37,443-445``).

The kernels take only geometry and return edges between node positions
(an id-less node takes part like any other); :func:`edge_rows` alone
names them for ``EDGES_SCHEMA`` rows.

Spark shape: documents never share edges, so this is one url shuffle
and one Arrow kernel call per document (:func:`.perdoc.per_url`) over a
nodes table, or, over a pages table, a :func:`.perdoc.per_doc` kernel
in the map-only parse pass (:func:`edges_from_pages`). Each
document then runs a per-page kernel: one interpreted line-of-sight
sweep per direction (:func:`_los_pass`) and a vectorized numpy IoU
matrix for cross-page edges. At cluster scale the shuffle is
hash-partitioned and AQE splits skewed documents' partitions; the sweep
visits only the sorted candidate suffix of each block and stops once
its overlap interval is fully masked, so cost is ~O(N log N + E) per
page in the common (sparse-visibility) case.
"""

from __future__ import annotations

from bisect import bisect_left
from typing import Iterable, Mapping

import numpy as np
from pyspark.sql import DataFrame

from ..schemas import EDGES_SCHEMA
from .perdoc import per_doc, per_url

GRID = 2
# A candidate suffix longer than this is overlap-prefiltered with numpy
# before the interpreted masking loop; on shorter ones the per-call numpy
# overhead costs more than the scan it would save.
PREFILTER_MIN = 128
CROSS_PAGE_IOU = 0.25
# the kernels' edge columns: EDGES_SCHEMA without url, src/dst positions
_POS_COLS = ("page_num", "src", "dst", "etype", "length", "overlap", "iou")


def _los_pass(
    a1: np.ndarray,
    a2: np.ndarray,
    b1: np.ndarray,
    b2: np.ndarray,
    mode: str = "g1",
) -> Iterable[tuple[int, int, float, float, float]]:
    """One directional line-of-sight pass.

    (a1,a2) = interval along the *overlap* axis; (b1,b2) = interval along
    the *sweep* axis. Emits (i, j, length, overlap, iou) for each pair
    where j is visible below i along the sweep axis; i and j are
    positions in the arrays. Vertical edges: overlap axis = x, sweep axis =
    y. Horizontal edges are the same pass with axes swapped (reference
    rotates -90 deg and reuses the vertical code,
    ``graph/Block.py:350-371``).

    Modes (reference ``graph/Block.py:456-688``):
    - ``g1``  non-overlapping layout; candidate starts at/after i's end;
      emit if any part of the projection overlap is unmasked; overlap =
      full geometric projection overlap.
    - ``g2``  true masking: overlap/iou computed on the *visible* part
      only (interval-subtraction view, ``util/masking.py:57-94``).
    - ``g1o`` overlapping boxes tolerated: candidates start at/after i's
      *start*; length may be negative (kept, for the caller's
      larger-overlap orientation filter).

    Only boxes whose four coordinates are finite are swept: a box with a
    NaN or infinite coordinate gets no edge and hides nothing.
    """
    if len(a1) < 2:
        return
    box = range(len(a1))
    cols = (a1, a2, b1, b2)
    try:
        # Python round() is half-even like np.round, and raises on NaN/inf
        ga1, ga2, gb1, gb2 = [[round(v / GRID) * GRID for v in c.tolist()] for c in cols]
    except (ValueError, OverflowError):
        fin = np.isfinite(a1) & np.isfinite(a2) & np.isfinite(b1) & np.isfinite(b2)
        box = np.flatnonzero(fin).tolist()
        ga1, ga2, gb1, gb2 = [[round(v / GRID) * GRID for v in c[fin].tolist()] for c in cols]
    # Sweep order: by start of sweep axis, then overlap axis (stable).
    order = sorted(range(len(box)), key=lambda k: (gb1[k], ga1[k]))
    src = [box[k] for k in order]
    la1, la2 = [ga1[k] for k in order], [ga2[k] for k in order]
    lb1, lb2 = [gb1[k] for k in order], [gb2[k] for k in order]
    n = len(order)
    if n > PREFILTER_MIN:
        na1, na2 = np.array(la1, dtype=np.float64), np.array(la2, dtype=np.float64)
    for ii in range(n):
        ai1, ai2 = la1[ii], la2[ii]
        if ai2 <= ai1:
            continue  # empty overlap interval: nothing can overlap it
        bot = lb2[ii]
        # lb1 is sorted, so the candidates are a suffix of the sweep
        # order. g1o: every later block (graph/Block.py:622-688 tie
        # rule); g1/g2: the blocks starting at/after i's bottom
        # (non-overlap assumption, graph/Block.py:506; the reference's
        # di1_by_y2 skip index, graph/Block.py:531-534).
        start = ii + 1 if mode == "g1o" else bisect_left(lb1, bot)
        if n - start > PREFILTER_MIN:
            # long suffix: one vectorized overlap compare, so the
            # interpreted loop below touches only blocks whose interval
            # reaches into i's (it still drops empty ones itself)
            hit = (na2[start:] > na1[ii]) & (na1[start:] < na2[ii])
            cand = (np.flatnonzero(hit) + start).tolist()
        else:
            cand = range(start, n)
        len_i = ai2 - ai1
        # the UNCOVERED part of i's overlap interval, as a sorted
        # disjoint segment list that only ever shrinks (the visibility
        # mask, util/masking.py:57-94)
        segs = [(ai1, ai2)]
        for jj in cand:
            if jj == ii:
                continue
            lo = ai1 if ai1 > la1[jj] else la1[jj]
            hi = ai2 if ai2 < la2[jj] else la2[jj]
            if hi <= lo:
                continue
            # visible = ordered pieces of [lo,hi] not yet covered
            visible = 0.0
            touched = False
            for a, b in segs:
                if b <= lo or a >= hi:
                    continue
                touched = True
                pa = lo if lo > a else a
                pb = hi if hi < b else b
                visible += pb - pa
            if visible > 0.0:
                len_j = la2[jj] - la1[jj]
                ov = visible if mode == "g2" else hi - lo
                union = len_i + len_j - ov
                iou = ov / union if union > 0 else 0.0
                length = lb1[jj] - bot
                if mode != "g1o":
                    length = max(length, 0.0)
                yield src[ii], src[jj], float(length), float(ov), float(iou)
            if touched:
                nxt = []
                for a, b in segs:
                    if b <= lo or a >= hi:
                        nxt.append((a, b))
                    else:
                        if a < lo:
                            nxt.append((a, lo))
                        if hi < b:
                            nxt.append((hi, b))
                segs = nxt
                if not segs:
                    break  # watermark early-exit (graph/Block.py:562-565)


def _doc_edges_arrays(
    page_num: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    mode: str = "g1",
) -> dict[str, list]:
    """V/H/CP edge kernel over plain numpy arrays for one document, as
    ``_POS_COLS`` lists (dict-of-lists beats list-of-dicts ~10x in the
    Arrow batch path)."""
    out: dict[str, list] = {k: [] for k in _POS_COLS}
    pages = np.unique(page_num)
    page_rows = {int(p): np.nonzero(page_num == p)[0] for p in pages}
    for p in pages:
        rows = page_rows[int(p)]
        pos = rows.tolist()
        px1, py1, px2, py2 = x1[rows], y1[rows], x2[rows], y2[rows]
        page_edges: dict[tuple, tuple] = {}
        for etype, a1, a2, b1, b2 in (("V", px1, px2, py1, py2), ("H", py1, py2, px1, px2)):
            for i, j, length, ov, iou in _los_pass(a1, a2, b1, b2, mode):
                page_edges[(etype, pos[i], pos[j])] = (length, ov, iou)
        if mode == "g1o":
            # overlapping-box filter (graph/Block.py:622-688): when a pair
            # got both a V and an H edge and either has negative length
            # (boxes overlap), keep only the larger-overlap orientation.
            for i_, j_ in {(i, j) for (_, i, j) in page_edges}:
                kv, kh = ("V", i_, j_), ("H", i_, j_)
                if kv in page_edges and kh in page_edges:
                    lv, ovv, _ = page_edges[kv]
                    lh, ovh, _ = page_edges[kh]
                    if lv < 0 or lh < 0:
                        del page_edges[kv if ovv < ovh else kh]
        if page_edges:
            # batch extends (one C call per column); dict iteration order
            # = insertion order, so the emitted row order is the sweep's
            m = len(page_edges)
            out["page_num"].extend([int(p)] * m)
            out["src"].extend(i for (_, i, _) in page_edges)
            out["dst"].extend(j for (_, _, j) in page_edges)
            out["etype"].extend(e for (e, _, _) in page_edges)
            out["length"].extend(float(max(v[0], 0.0)) for v in page_edges.values())
            out["overlap"].extend(v[1] for v in page_edges.values())
            out["iou"].extend(v[2] for v in page_edges.values())
    # Cross-page: consecutive pages, box IoU >= threshold, fully
    # vectorized (significantOverlap, graph/Block.py:212-278).
    for p in pages:
        if int(p) + 1 not in page_rows:
            continue
        ra, rb = page_rows[int(p)], page_rows[int(p) + 1]
        ox = np.minimum(x2[ra][:, None], x2[rb][None, :]) - np.maximum(x1[ra][:, None], x1[rb][None, :])
        oy = np.minimum(y2[ra][:, None], y2[rb][None, :]) - np.maximum(y1[ra][:, None], y1[rb][None, :])
        inter = np.clip(ox, 0, None) * np.clip(oy, 0, None)
        area_a = ((x2[ra] - x1[ra]) * (y2[ra] - y1[ra]))[:, None]
        area_b = ((x2[rb] - x1[rb]) * (y2[rb] - y1[rb]))[None, :]
        union = area_a + area_b - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            iou = np.where(union > 0, inter / union, 0.0)
        ii, jj = np.nonzero(iou >= CROSS_PAGE_IOU)
        m = len(ii)
        if m:
            # same row-major (ii, jj) order the per-pair loop emitted
            out["page_num"].extend([int(p)] * m)
            out["src"].extend(ra[ii].tolist())
            out["dst"].extend(rb[jj].tolist())
            out["etype"].extend(["CP"] * m)
            out["length"].extend([0.0] * m)
            out["overlap"].extend([0.0] * m)
            out["iou"].extend(iou[ii, jj].tolist())
    return out


def edge_rows(url: str, node_id, edges: Mapping[str, list]) -> dict[str, list]:
    """``EDGES_SCHEMA`` columns of one document's positional edges:
    ``src``/``dst`` become the ids in ``node_id`` (node order), and a
    pair with an id-less endpoint is dropped (the one place that rule lives)."""
    ids = np.asarray(node_id, dtype=object).tolist()
    cols = dict(edges, src=[ids[i] for i in edges["src"]], dst=[ids[j] for j in edges["dst"]])
    if None in cols["src"] or None in cols["dst"]:
        keep = [k for k, (s, d) in enumerate(zip(cols["src"], cols["dst"])) if None not in (s, d)]
        cols = {k: [v[i] for i in keep] for k, v in cols.items()}
    return dict(cols, url=[url] * len(cols["src"]))


def edge_positions(cols: Mapping, mode: str) -> dict[str, list]:
    """:func:`_doc_edges_arrays` over one document's node columns (numpy
    arrays, :func:`.parse.parse_doc_cols` lists, or a pandas frame)."""
    x1, y1, x2, y2 = (np.asarray(cols[c], dtype=np.float64) for c in ("x1", "y1", "x2", "y2"))
    return _doc_edges_arrays(np.asarray(cols["page_num"]), x1, y1, x2, y2, mode)


def doc_edges(cols: Mapping, mode: str = "g1") -> dict[str, list]:
    """:func:`edge_positions` as :func:`edge_rows`: the per-document
    entry of :func:`build_edges` and :func:`edges_from_pages`."""
    return edge_rows(next(iter(cols["url"]), None), cols["node_id"], edge_positions(cols, mode))


def edges_from_pages(pages: DataFrame, mode: str = "g1") -> DataFrame:
    """Fused parse+edges: pages.html -> edges in ONE map-only pass.

    Each pages row is a complete document, so edges never need a shuffle
    at all — this is the scale path (build_edges on a nodes table costs
    an extra hash exchange plus per-group overhead). The node set is
    ``parse_pages``': documents that fail to parse give no edge, and a
    giant one is cut to its first ``MAX_NODES_PER_DOC`` nodes."""
    return per_doc(EDGES_SCHEMA, lambda url, cols, status: doc_edges(cols, mode) if cols else {},
                   pages)


def doc_continuous_edges_arrays(
    page_num: np.ndarray,
    page_h: np.ndarray,
    page_w: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    mirror: bool = True,
) -> dict[str, list]:
    """J6 continuous-page (book-scan) edges, reference
    ``graph/Graph_MultiPageXml.py:78-130``: for consecutive pages, stack
    the lower half of page p and the (optionally horizontally mirrored)
    upper half of page p+1 into a fake page, run the vertical g1 sweep,
    keep only the edges that cross the page boundary (etype 'CPM'), as
    ``_POS_COLS`` lists."""
    out: dict[str, list] = {k: [] for k in _POS_COLS}
    pages = np.unique(page_num)
    rows_of = {int(p): np.nonzero(page_num == p)[0] for p in pages}
    for p in pages:
        p = int(p)
        if p + 1 not in rows_of:
            continue
        ra, rb = rows_of[p], rows_of[p + 1]
        h0 = float(page_h[ra[0]])
        w1 = float(page_w[rb[0]])
        cy_a = (y1[ra] + y2[ra]) / 2.0
        cy_b = (y1[rb] + y2[rb]) / 2.0
        sel_a = ra[cy_a >= h0 / 2.0]
        sel_b = rb[cy_b <= float(page_h[rb[0]]) / 2.0]
        if not len(sel_a) or not len(sel_b):
            continue
        pos = np.concatenate([sel_a, sel_b]).tolist()
        n_a = len(sel_a)
        fy1 = np.concatenate([y1[sel_a] - h0 / 2.0, y1[sel_b] + h0 / 2.0])
        fy2 = np.concatenate([y2[sel_a] - h0 / 2.0, y2[sel_b] + h0 / 2.0])
        if mirror:
            fx1 = np.concatenate([x1[sel_a], w1 - x2[sel_b]])
            fx2 = np.concatenate([x2[sel_a], w1 - x1[sel_b]])
        else:
            fx1 = np.concatenate([x1[sel_a], x1[sel_b]])
            fx2 = np.concatenate([x2[sel_a], x2[sel_b]])
        for i, j, length, ov, iou in _los_pass(fx1, fx2, fy1, fy2, "g1"):
            if (i < n_a) == (j < n_a):
                continue  # both ends on the same page
            out["page_num"].append(p)
            out["src"].append(pos[i])
            out["dst"].append(pos[j])
            out["etype"].append("CPM")
            out["length"].append(float(max(length, 0.0)))
            out["overlap"].append(float(ov))
            out["iou"].append(float(iou))
    return out


def build_continuous_edges(nodes: DataFrame, mirror: bool = True) -> DataFrame:
    """nodes -> continuous-page mirror edges (J6); same one-shuffle
    per-document shape as :func:`build_edges`."""

    def run(c: Mapping[str, np.ndarray]) -> dict[str, list]:
        edges = doc_continuous_edges_arrays(
            c["page_num"], c["page_h"], c["page_w"], c["x1"], c["y1"], c["x2"], c["y2"],
            mirror=mirror,
        )
        return edge_rows(next(iter(c["url"]), None), c["node_id"], edges)

    cols = ("url", "node_id", "page_num", "page_h", "page_w", "x1", "y1", "x2", "y2")
    return per_url(EDGES_SCHEMA, run, nodes.select(*cols))


def build_edges(nodes: DataFrame, mode: str = "g1") -> DataFrame:
    """nodes -> edges: one shuffle on url, then the per-doc edge kernel.
    ``mode``: 'g1' (default), 'g2' (true masking), 'g1o' (overlaps ok).
    """
    cols = nodes.select("url", "node_id", "page_num", "x1", "y1", "x2", "y2")
    return per_url(EDGES_SCHEMA, lambda c: doc_edges(c, mode), cols)
