"""Table row detection + BIESO tagging (SURVEY.md §2.8 C9, lite).

The reference's ABP table task labels TextLines with row-position tags
``RB RI RE RS RO`` (row Begin / Inner / End / Single / Outside,
``tasks/DU_Table/DU_ABPTable.py:61``) and detects rows from cut
candidates (``tasks/DU_Table/rowDetection.py``). Re-expressed here:

1. group a page's line nodes into visual rows by 1-D interval merging of
   their y-extents (the projection-profile cut, functions/xycut.py);
2. order each row left-to-right and tag positions BIESO.

One array kernel call per document behind one url shuffle
(:func:`.perdoc.per_url`) over the standard nodes table — works on any
node kind that has boxes (TextLine nodes from the multitype parser).
"""

from __future__ import annotations

from typing import Mapping

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.xycut import merge_intervals
from .perdoc import per_url

ROW_TAGS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("node_id", T.StringType(), False),
        T.StructField("row_id", T.IntegerType(), False),
        T.StructField("col_pos", T.IntegerType(), False),
        T.StructField("bieso", T.StringType(), False),
    ]
)


def tag_doc_rows(cols: Mapping[str, np.ndarray], min_gap: float = 10.0) -> dict[str, list]:
    """One document's line boxes ``{column: ndarray}`` -> (row_id,
    col_pos, BIESO tag) per line. Rows are numbered over the pages in
    order and a page's bands top to bottom; a band's lines are placed by
    (x1, node_id), a null node id last."""
    nid, page, x1 = cols["node_id"], cols["page_num"], cols["x1"]
    centers = (cols["y1"] + cols["y2"]) / 2.0
    null = np.equal(nid, None)
    key = np.where(null, "", nid)
    out: dict[str, list] = {k: [] for k in ("node_id", "row_id", "col_pos", "bieso")}
    row = 0
    for p in np.unique(page):
        on = page == p
        for lo, hi in merge_intervals(list(zip(cols["y1"][on], cols["y2"][on])), min_gap):
            # the lines whose y-center is in the band, left to right
            band = np.flatnonzero(on & (centers >= lo) & (centers <= hi))
            band = band[np.lexsort((key[band], null[band], x1[band]))]
            n = len(band)
            out["node_id"] += nid[band].tolist()
            out["row_id"] += [row] * n
            out["col_pos"] += range(n)
            out["bieso"] += ["RB"] + ["RI"] * (n - 2) + ["RE"] if n > 1 else ["RS"] * n
            row += 1
    out["url"] = cols["url"][:1].tolist() * len(out["node_id"])
    return out


def bieso_tag_rows(nodes: DataFrame, min_gap: float = 10.0,
                   kind: str | None = "TextLine") -> DataFrame:
    """nodes -> BIESO row tags; one url shuffle, one kernel call per
    document."""
    src = nodes
    if kind is not None:
        src = src.filter(F.col("kind") == kind)
    src = src.select("url", "node_id", "page_num", "x1", "y1", "x2", "y2")
    return per_url(ROW_TAGS_SCHEMA, lambda c: tag_doc_rows(c, min_gap), src)


# ---------------------------------------------------------------------------
# Full C9: cut-candidate mining + coherence grid search
# (reference ``tasks/DU_Table/rowDetection.py:389-467`` processRows +
# ``spm/spmTableRow.py:110-160`` columnMining + ``rowDetection.py:
# 1401-1434`` computeCoherenceScore).
# ---------------------------------------------------------------------------
GRID_THNUM = (10, 20, 30)   # reference processRows thnum grid
GRID_THSUP = (0.2, 0.3, 0.4)  # reference lTHSUP column-support grid

ROWS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("node_id", T.StringType(), False),
        T.StructField("row_id", T.IntegerType(), False),
    ]
)


def mine_row_cuts(tops: list[tuple[float, int]], n_cols: int,
                  thnum: float, thsup: float) -> list[float]:
    """Y-cut candidates: greedy 1-D clustering of cell-top ys (chain
    while the gap to the previous top is <= thnum — the featureObject
    numerical-threshold equality), keep clusters supported by >= thsup
    of the columns; cut value = cluster min."""
    if not tops:
        return []
    tops = sorted(tops)
    clusters: list[list[tuple[float, int]]] = [[tops[0]]]
    for y, c in tops[1:]:
        if y - clusters[-1][-1][0] <= thnum:
            clusters[-1].append((y, c))
        else:
            clusters.append([(y, c)])
    cuts = []
    for cl in clusters:
        support = len({c for _, c in cl}) / max(n_cols, 1)
        if support >= thsup:
            cuts.append(cl[0][0])
    return cuts


def _assign_rows(cuts: list[float], y_centers: list[float]) -> list[int]:
    """Line -> row index = number of cuts at or below its y-center
    (assessCuts interval semantics, rowDetection.py:294-318)."""
    import bisect

    return [max(bisect.bisect_right(cuts, y) - 1, 0) for y in y_centers]


def _coherence_score(rows: list[int], cols: list[int], tags: list[str],
                     y1s: list[float]) -> float:
    """BIESO coherence (computeCoherenceScore, rowDetection.py:1401-1434;
    we keep the full BIESO convention: single-line cell -> RS, first ->
    RB, last -> RE, middle -> RI)."""
    cells: dict[tuple[int, int], list[tuple[float, str]]] = {}
    for r, c, t, y in zip(rows, cols, tags, y1s):
        cells.setdefault((r, c), []).append((y, t))
    ok = n = 0
    for members in cells.values():
        members.sort()
        k = len(members)
        for i, (_, t) in enumerate(members):
            n += 1
            if k == 1:
                ok += t == "RS"
            elif i == 0:
                ok += t == "RB"
            elif i == k - 1:
                ok += t == "RE"
            else:
                ok += t == "RI"
    return ok / n if n else 0.0


def detect_doc_rows(cols: Mapping[str, np.ndarray]) -> dict[str, list]:
    """One table's lines ``{column: ndarray}`` -> row_id per line:
    grid-search (thnum x thsup) cut candidates, keep the cut set with
    the best BIESO coherence (strictly-better keeps the first grid hit,
    like the reference's ``>`` comparison)."""
    col = cols["col_id"]
    y1, col_id = cols["y1"].tolist(), col.tolist()
    n_cols = len(np.unique(col[col == col]))  # a null column id is no column
    # cell tops: the min y1 per (col, contiguous block)? The miner uses
    # cell y-tops; with line-level input the first line of each cell is
    # unknown pre-segmentation, so every line top is a (weaker) vote —
    # row-top lines dominate because they align across columns.
    tops = list(zip(y1, col_id))
    centers = ((cols["y1"] + cols["y2"]) / 2.0).tolist()
    best = (-1.0, None)
    for thnum in GRID_THNUM:
        for thsup in GRID_THSUP:
            cuts = mine_row_cuts(tops, n_cols, thnum, thsup)
            if not cuts:
                continue
            rows = _assign_rows(cuts, centers)
            score = _coherence_score(rows, col_id, cols["tag"].tolist(), y1)
            if score > best[0]:
                best = (score, rows)
    rows = best[1] if best[1] is not None else [0] * len(y1)
    return {"url": cols["url"][:1].tolist() * len(rows),
            "node_id": cols["node_id"].tolist(), "row_id": rows}


def detect_table_rows(lines: DataFrame) -> DataFrame:
    """lines (url, node_id, col_id, tag, x1..y2) -> (url, node_id,
    row_id); one url shuffle, one kernel call per table."""
    src = lines.select("url", "node_id", "col_id", "tag", "y1", "y2")
    return per_url(ROWS_SCHEMA, detect_doc_rows, src)


# ---------------------------------------------------------------------------
# E5: partition evaluation (reference util/partitionEvaluation.py:28-75
# evalPartitions + DU_Table_Evaluator.py:93-99 computePRF). We match
# greedily by similarity over ALL cluster pairs (the reference restricts
# candidates to a DTW path — an approximation; exhaustive greedy is a
# strict superset and identical on well-separated tables).
# ---------------------------------------------------------------------------
def _jaccard_similarity(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)


def eval_partitions(run: list[list], gt: list[list], th: float) -> tuple[int, int, int]:
    """Returns (n_ok, n_err, n_miss): greedy 1-1 matching of run
    clusters to GT clusters by jaccard similarity desc, pairs below
    ``th`` never match."""
    sims = []
    for i, x in enumerate(run):
        sx = set(x)
        for j, y in enumerate(gt):
            s = _jaccard_similarity(sx, set(y))
            if s >= th:
                sims.append((s, i, j))
    sims.sort(key=lambda t: (-t[0], t[1], t[2]))
    used_i: set[int] = set()
    used_j: set[int] = set()
    for s, i, j in sims:
        if i not in used_i and j not in used_j:
            used_i.add(i)
            used_j.add(j)
    n_ok = len(used_i)
    return n_ok, len(run) - n_ok, len(gt) - n_ok


def compute_prf(n_ok: int, n_err: int, n_miss: int) -> tuple[float, float, float]:
    p = n_ok / (n_ok + n_err) if n_ok + n_err else 0.0
    r = n_ok / (n_ok + n_miss) if n_ok + n_miss else 0.0
    f = 2 * p * r / (p + r) if p + r else 0.0
    return p, r, f


EVAL_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("n_ok", T.LongType(), False),
        T.StructField("n_err", T.LongType(), False),
        T.StructField("n_miss", T.LongType(), False),
        T.StructField("f1", T.DoubleType(), False),
    ]
)


def _partition(keys: np.ndarray, members: np.ndarray) -> list[list]:
    """``members`` grouped by ``keys``, groups in ascending key order; a
    null (NaN) key is in no group."""
    keep = np.flatnonzero(keys == keys)
    keep = keep[np.argsort(keys[keep], kind="stable")]
    groups = np.split(members[keep], np.flatnonzero(np.diff(keys[keep])) + 1)
    return [g.tolist() for g in groups] if len(keep) else []


def eval_doc_rows(cols: Mapping[str, np.ndarray], simil: float = 1.0) -> dict[str, list]:
    """One table's (node_id, row_id, gt_row) ``{column: ndarray}`` -> its
    one evaluation row: the predicted row partition matched to the
    ground-truth one by :func:`eval_partitions`."""
    ok, err, miss = eval_partitions(_partition(cols["row_id"], cols["node_id"]),
                                    _partition(cols["gt_row"], cols["node_id"]), simil)
    _, _, f1 = compute_prf(ok, err, miss)
    return {"url": cols["url"][:1].tolist(), "n_ok": [ok], "n_err": [err],
            "n_miss": [miss], "f1": [round(f1, 6)]}


def eval_row_clusters(pred: DataFrame, gt: DataFrame, simil: float = 1.0) -> DataFrame:
    """Per-table row-cluster evaluation: (url, n_ok, n_err, n_miss, f1)
    comparing predicted row partitions to ground truth at a jaccard
    similarity threshold."""
    j = pred.select("url", "node_id", "row_id").join(
        gt.select("url", "node_id", "gt_row"), ["url", "node_id"])
    return per_url(EVAL_SCHEMA, lambda c: eval_doc_rows(c, simil), j)
