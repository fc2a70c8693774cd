"""Generate ground-truth oracle sidecars for the contract queries.

The synthesized corpus is deterministic (synth.plan_doc), so every
derived quantity the pipeline computes — node tables, line-of-sight
edge histograms, cluster counts, dual-graph sizes, BIESO row tags,
chi2 scores, ANN top-k — has a closed-form ground truth computable by
an INDEPENDENT single-node implementation. This tool computes those
truths with fresh (non-Spark, non-pipeline) code and writes them as
parquet sidecars under truth/<sf>/, which ``oracle_sql()`` then reads
via DuckDB ``read_parquet`` — turning rows-only contract queries into
hash-verified ones.

Independence: this file implements the same *specifications* as
transkribusdu_spark (reference semantics: ``graph/Block.py:456-688``
sweep, ``util/masking.py:57-94`` interval masking,
``GraphBinaryConjugateSegmenter.py`` clustering) but shares no code
with the pipeline — interval set, union-find, sweep, chi2 and cosine
are reimplemented here from the spec. The only shared import is
``synth.plan_doc``: the data *generator* (not the system under test).

Usage:  python tools/make_truth.py [sf_dir ...]
Default sf dirs: /root/testdata/sf0.001 /root/testdata/sf0.01
Outputs: /root/repo/truth/<basename(sf_dir)>/*.parquet

Regenerate whenever synth.plan_doc, the fold rule, the LSH/IVF specs,
or the chi2 feature list changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transkribusdu_spark import SEED
from transkribusdu_spark.synth import plan_doc

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GRID = 2
CROSS_PAGE_IOU = 0.25
MAIN = ("paragraph", "heading")
FOLD_SEED = 42
N_FOLDS = 4


def spark_round(x: float, digits: int) -> float:
    """Mirror Spark's F.round on DOUBLE: HALF_UP over the SHORTEST
    decimal representation (Java BigDecimal.valueOf goes through
    Double.toString; Python repr produces the same shortest repr) —
    NOT Python round (half-even) and NOT the exact binary expansion."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))


def round6_half_up(x: float) -> float:
    return spark_round(x, 6)


# ---------------------------------------------------------------------------
# Interval set (disjoint sorted union) — masking primitive.
# ---------------------------------------------------------------------------
class IntervalSet:
    """Union of disjoint half-open-ish intervals kept sorted; supports
    uncovered-length queries. Independent of the pipeline's
    subtract-list formulation."""

    def __init__(self) -> None:
        self.iv: list[tuple[float, float]] = []

    def add(self, lo: float, hi: float) -> None:
        if hi <= lo:
            return
        merged = []
        placed = False
        for a, b in self.iv:
            if b < lo or a > hi:
                merged.append((a, b))
            else:
                lo, hi = min(lo, a), max(hi, b)
        for idx, (a, b) in enumerate(merged):
            if lo < a:
                merged.insert(idx, (lo, hi))
                placed = True
                break
        if not placed:
            merged.append((lo, hi))
        self.iv = merged

    def uncovered(self, lo: float, hi: float) -> float:
        if hi <= lo:
            return 0.0
        total = hi - lo
        for a, b in self.iv:
            a2, b2 = max(a, lo), min(b, hi)
            if b2 > a2:
                total -= b2 - a2
        return total


# ---------------------------------------------------------------------------
# Line-of-sight edge sweep (spec: graph/Block.py:456-688).
# ---------------------------------------------------------------------------
def los_pass(a1, a2, b1, b2, mode: str) -> list[tuple[int, int, float, float]]:
    """One directional pass. (a1,a2)=overlap-axis interval, (b1,b2)=
    sweep-axis interval. Returns (i, j, length, ov)."""
    n = len(a1)
    ga1 = [float(np.round(v / GRID) * GRID) for v in a1]
    ga2 = [float(np.round(v / GRID) * GRID) for v in a2]
    gb1 = [float(np.round(v / GRID) * GRID) for v in b1]
    gb2 = [float(np.round(v / GRID) * GRID) for v in b2]
    order = sorted(range(n), key=lambda t: (gb1[t], ga1[t]))
    out = []
    for ii, i in enumerate(order):
        mask = IntervalSet()
        for jj, j in enumerate(order):
            if j == i:
                continue
            if mode == "g1o":
                if gb1[j] < gb1[i] or (gb1[j] == gb1[i] and jj <= ii):
                    continue
            elif gb1[j] < gb2[i]:
                continue
            lo, hi = max(ga1[i], ga1[j]), min(ga2[i], ga2[j])
            if hi <= lo:
                continue
            visible = mask.uncovered(lo, hi)
            if visible > 0.0:
                ov = visible if mode == "g2" else hi - lo
                length = gb1[j] - gb2[i]
                if mode != "g1o":
                    length = max(length, 0.0)
                out.append((i, j, float(length), float(ov)))
            mask.add(lo, hi)
            if mask.uncovered(ga1[i], ga2[i]) <= 0.0:
                break
    return out


def doc_edges_truth(regions: list[dict], mode: str) -> list[tuple[str, str, str]]:
    """All (etype, src, dst) edges for one document's region list
    (each region dict carries page_num + box + node_id)."""
    by_page: dict[int, list[dict]] = {}
    for r in regions:
        by_page.setdefault(r["page_num"], []).append(r)
    edges: list[tuple[str, str, str]] = []
    for p in sorted(by_page):
        rs = by_page[p]
        ids = [r["node_id"] for r in rs]
        x1 = [r["x1"] for r in rs]
        y1 = [r["y1"] for r in rs]
        x2 = [r["x2"] for r in rs]
        y2 = [r["y2"] for r in rs]
        page_edges: dict[tuple[str, int, int], tuple[float, float]] = {}
        for etype, a1, a2, b1, b2 in (("V", x1, x2, y1, y2), ("H", y1, y2, x1, x2)):
            for i, j, length, ov in los_pass(a1, a2, b1, b2, mode):
                page_edges[(etype, i, j)] = (length, ov)
        if mode == "g1o":
            for i_, j_ in {(i, j) for (_, i, j) in page_edges}:
                kv, kh = ("V", i_, j_), ("H", i_, j_)
                if kv in page_edges and kh in page_edges:
                    lv, ovv = page_edges[kv]
                    lh, ovh = page_edges[kh]
                    if lv < 0 or lh < 0:
                        del page_edges[kv if ovv < ovh else kh]
        for (etype, i, j) in page_edges:
            edges.append((etype, ids[i], ids[j]))
        # cross-page IoU edges
        if p + 1 in by_page:
            for ra in rs:
                for rb in by_page[p + 1]:
                    ox = min(ra["x2"], rb["x2"]) - max(ra["x1"], rb["x1"])
                    oy = min(ra["y2"], rb["y2"]) - max(ra["y1"], rb["y1"])
                    inter = max(ox, 0.0) * max(oy, 0.0)
                    area_a = (ra["x2"] - ra["x1"]) * (ra["y2"] - ra["y1"])
                    area_b = (rb["x2"] - rb["x1"]) * (rb["y2"] - rb["y1"])
                    union = area_a + area_b - inter
                    if union > 0 and inter / union >= CROSS_PAGE_IOU:
                        edges.append(("CP", ra["node_id"], rb["node_id"]))
    return edges


# ---------------------------------------------------------------------------
# LCS ratio truth (spec: graph/Transformer_PageXml.py:594-618 —
# pure-Python row DP, independent of the pipeline's numpy kernel).
# ---------------------------------------------------------------------------
def lcs_length_ref(a: str, b: str) -> int:
    na, nb = len(a), len(b)
    if nb < na:
        a, na, b, nb = b, nb, a, na
    if na == 0:
        return 0
    cur = [0] * (na + 1)
    prev = [0] * (na + 1)
    for i in range(nb):
        bi = b[i]
        prev, cur = cur, prev
        cur[0] = 0
        best = 0
        for j in range(1, na + 1):
            if bi == a[j - 1]:
                best = max(1 + prev[j - 1], prev[j], best)
            else:
                best = max(prev[j], best)
            cur[j] = best
    return cur[na]


def lcs2_ref(a: str, b: str) -> float:
    lcs = lcs_length_ref(a, b)
    denom = len(a) + len(b) - lcs
    ratio = float(lcs) / denom if denom > 0 else 0.0
    return spark_round(ratio, 2)


# ---------------------------------------------------------------------------
# Clustering truths (spec: GraphBinaryConjugateSegmenter.py).
# ---------------------------------------------------------------------------
def components(node_ids: list[str], links: list[tuple[str, str]]) -> list[list[str]]:
    parent: dict[str, str] = {n: n for n in node_ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in links:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    groups: dict[str, list[str]] = {}
    for n in node_ids:
        groups.setdefault(find(n), []).append(n)
    out = [sorted(g) for g in groups.values()]
    out.sort(key=lambda g: g[0])
    return out


def agglo_count(node_ids: list[str], scored: list[tuple[str, str, float]]) -> int:
    """Agglomerative merge count: seeds = components @ p>=0.99, then merge
    best pair while sum(2p-1) over inter-cluster edges > 0."""
    seeds = components(node_ids, [(a, b) for a, b, p in scored if p >= 0.99])
    owner = {n: i for i, c in enumerate(seeds) for n in c}
    alive = set(range(len(seeds)))
    score: dict[tuple[int, int], float] = {}
    for a, b, p in scored:
        ca, cb = owner.get(a), owner.get(b)
        if ca is None or cb is None or ca == cb:
            continue
        k = (min(ca, cb), max(ca, cb))
        score[k] = score.get(k, 0.0) + (2.0 * p - 1.0)
    while score:
        (a, b), best = max(score.items(), key=lambda kv: (kv[1], (-kv[0][0], -kv[0][1])))
        if best <= 0.0:
            break
        alive.discard(b)
        nxt: dict[tuple[int, int], float] = {}
        for (x, y), s in score.items():
            if (x, y) == (a, b):
                continue
            x2 = a if x == b else x
            y2 = a if y == b else y
            if x2 == y2:
                continue
            k = (min(x2, y2), max(x2, y2))
            nxt[k] = nxt.get(k, 0.0) + s
        score = nxt
    return len(alive)


# ---------------------------------------------------------------------------
# Convex hull truth (spec: util/Shape.py:50-99 cluster hulls) — Jarvis
# march (gift wrapping), independent of the pipeline's monotone chain;
# same output convention: strictly convex vertices, CCW cycle starting
# at the lexicographically smallest point.
# ---------------------------------------------------------------------------
def jarvis_hull(points: list[tuple[float, float]]) -> list[tuple[float, float]]:
    pts = sorted(set(points))
    if len(pts) <= 2:
        return pts
    start = pts[0]
    hull = [start]
    cur = start
    while True:
        nxt = None
        for cand in pts:
            if cand == cur:
                continue
            if nxt is None:
                nxt = cand
                continue
            # CCW hull: every point must lie LEFT of cur->next; a cand
            # strictly right of cur->nxt (cross < 0) displaces nxt
            cross = (nxt[0] - cur[0]) * (cand[1] - cur[1]) - (nxt[1] - cur[1]) * (cand[0] - cur[0])
            if cross < 0:
                nxt = cand
            elif cross == 0:
                # collinear: keep the farther point (drops interior
                # collinear vertices, matching the strict-turn chain)
                d_n = (nxt[0] - cur[0]) ** 2 + (nxt[1] - cur[1]) ** 2
                d_c = (cand[0] - cur[0]) ** 2 + (cand[1] - cur[1]) ** 2
                if d_c > d_n:
                    nxt = cand
        if nxt == start or nxt is None:
            break
        hull.append(nxt)
        cur = nxt
        if len(hull) > len(pts):  # safety
            break
    return hull


# ---------------------------------------------------------------------------
# Deterministic learned-extraction truth (spec: pipeline/model.py
# fit_lda_params (closed-form LDA weights + reading-order transition
# counts) / smoothed_labels (score + Viterbi) + extract reading order,
# as composed by api.extract_documents_deterministic). Everything
# derives from exact integer sums, so this single-node mirror
# reproduces the distributed output bit-for-bit.
# ---------------------------------------------------------------------------
def lda_fit_truth(region_rows: list[dict]) -> tuple[list[float], float]:
    import math

    feats = []
    ys = []
    for r in region_rows:
        t = r["text"] or ""
        feats.append([float(len(t)), float(t.count(" ")),
                      r["x2"] - r["x1"], r["y2"] - r["y1"]])
        ys.append(1 if r["label"] in MAIN else 0)
    X = np.asarray(feats, dtype=np.float64)
    y = np.asarray(ys)
    n0, n1 = float((y == 0).sum()), float((y == 1).sum())
    ws, mid = [], []
    for f in range(X.shape[1]):
        col = X[:, f]
        s0, s1 = float(col[y == 0].sum()), float(col[y == 1].sum())
        q = float((col * col).sum())
        mu0, mu1 = s0 / n0, s1 / n1
        var = (q - s0 * mu0 - s1 * mu1) / (n0 + n1 - 2.0) + 1.0
        ws.append((mu1 - mu0) / var)
        mid.append((mu0 + mu1) / 2.0)
    b = math.log(n1 / n0)
    for w, m in zip(ws, mid):
        b = b - w * m
    return ws, b


def transitions_truth(docs_regions: dict[str, list[dict]]) -> np.ndarray:
    counts = np.ones((2, 2))
    for url in docs_regions:
        rs = sorted(docs_regions[url], key=lambda r: (r["page_num"], r["y1"], r["x1"], r["node_id"]))
        cs = [1 if r["label"] in MAIN else 0 for r in rs]
        for a, bb in zip(cs, cs[1:]):
            counts[a, bb] += 1
    return np.log(counts / counts.sum(axis=1, keepdims=True))


def viterbi_truth(log_emit: np.ndarray, log_trans: np.ndarray) -> list[int]:
    """Loop-form DP; ties resolve to the smallest state index (the
    first-maximum rule), independent of the pipeline's vectorized form."""
    T_, K = log_emit.shape
    delta = [float(log_emit[0, k]) for k in range(K)]
    back = [[0] * K for _ in range(T_)]
    for t in range(1, T_):
        nxt = []
        for k in range(K):
            best, arg = None, 0
            for kp in range(K):
                v = delta[kp] + float(log_trans[kp, k])
                if best is None or v > best:
                    best, arg = v, kp
            back[t][k] = arg
            nxt.append(best + float(log_emit[t, k]))
        delta = nxt
    last, bestv = 0, None
    for k in range(K):
        if bestv is None or delta[k] > bestv:
            bestv, last = delta[k], k
    path = [0] * T_
    path[-1] = last
    for t in range(T_ - 2, -1, -1):
        path[t] = back[t + 1][path[t + 1]]
    return path


def pred_smoothed_truth(docs_regions: dict[str, list[dict]],
                        doc_id_of: dict[str, int]) -> list[dict]:
    all_regions = [r for rs in docs_regions.values() for r in rs]
    ws, b = lda_fit_truth(all_regions)
    log_trans = transitions_truth(docs_regions)
    out = []
    for url, rs in docs_regions.items():
        rs = sorted(rs, key=lambda r: (r["page_num"], r["y1"], r["x1"], r["node_id"]))
        t_ = [(r["text"] or "") for r in rs]
        f0 = np.array([float(len(s)) for s in t_])
        f1 = np.array([float(s.count(" ")) for s in t_])
        f2 = np.array([r["x2"] - r["x1"] for r in rs], dtype=np.float64)
        f3 = np.array([r["y2"] - r["y1"] for r in rs], dtype=np.float64)
        z = f0 * ws[0] + f1 * ws[1] + f2 * ws[2] + f3 * ws[3] + b
        p = 1.0 / (1.0 + np.exp(-z))
        proba = np.stack([1.0 - p, p], axis=1)
        log_emit = np.log(np.clip(proba, 1e-9, 1.0))
        path = viterbi_truth(log_emit, log_trans)
        main_txt = [s for s, k in zip(t_, path) if k == 1]
        if main_txt:
            out.append({"doc_id": doc_id_of[url],
                        "n_chars_extracted": len(" ".join(main_txt))})
    return out


# ---------------------------------------------------------------------------
# BIESO row tagging truth (spec: tasks/DU_Table/DU_ABPTable.py:61).
# ---------------------------------------------------------------------------
def bieso_truth(lines: list[dict], min_gap: float = 10.0) -> list[tuple[str, str]]:
    """lines: dicts with page_num, node_id, x1, y1, y2. Returns
    (node_id, tag)."""
    out: list[tuple[str, str]] = []
    by_page: dict[int, list[dict]] = {}
    for ln in lines:
        by_page.setdefault(ln["page_num"], []).append(ln)
    for p in sorted(by_page):
        pls = by_page[p]
        ivs = sorted((float(l["y1"]), float(l["y2"])) for l in pls)
        bands: list[list[float]] = []
        for a, b in ivs:
            if bands and a - bands[-1][1] < min_gap:
                bands[-1][1] = max(bands[-1][1], b)
            else:
                bands.append([a, b])
        for lo, hi in bands:
            sel = [l for l in pls if lo <= (l["y1"] + l["y2"]) / 2.0 <= hi]
            sel.sort(key=lambda l: (l["x1"], l["node_id"]))
            n = len(sel)
            for pos, l in enumerate(sel):
                tag = "RS" if n == 1 else "RB" if pos == 0 else "RE" if pos == n - 1 else "RI"
                out.append((l["node_id"], tag))
    return out


# ---------------------------------------------------------------------------
# chi2 truth (mirrors featselect.chi2_scores arithmetic exactly).
# ---------------------------------------------------------------------------
CHI2_FEATURES = [
    "fx1", "fy1", "fx2", "fy2", "fw", "fh", "farea",
    "fcx2", "fcy2", "feven", "fp1", "fplast",
]


def chi2_feature_row(r: dict) -> dict[str, float]:
    w = r["x2"] - r["x1"]
    h = r["y2"] - r["y1"]
    return {
        "fx1": r["x1"], "fy1": r["y1"], "fx2": r["x2"], "fy2": r["y2"],
        "fw": w, "fh": h, "farea": w * h,
        "fcx2": r["x1"] + r["x2"], "fcy2": r["y1"] + r["y2"],
        "feven": 1.0 if r["page_num"] % 2 == 0 else 0.0,
        "fp1": 1.0 if r["page_num"] == 1 else 0.0,
        "fplast": 1.0 if r["page_num"] == r["page_cnt"] else 0.0,
    }


def chi2_truth(region_rows: list[dict]) -> pd.DataFrame:
    n = len(region_rows)
    ys = [1.0 if r["label"] in MAIN else 0.0 for r in region_rows]
    n1 = float(sum(ys))
    p1 = n1 / n if n else 0.0
    recs = []
    for c in CHI2_FEATURES:
        vals = [chi2_feature_row(r)[c] for r in region_rows]
        tot = float(sum(vals))
        pos = float(sum(v * y for v, y in zip(vals, ys)))
        neg = tot - pos
        e_pos, e_neg = tot * p1, tot * (1.0 - p1)
        chi2 = 0.0
        if e_pos > 0:
            chi2 += (pos - e_pos) ** 2 / e_pos
        if e_neg > 0:
            chi2 += (neg - e_neg) ** 2 / e_neg
        recs.append({"feature": c, "chi2": round(float(chi2), 6)})
    return pd.DataFrame(recs)


# ---------------------------------------------------------------------------
# ANN truths (specs in ops/similarity.py — reimplemented with explicit
# left-fold arithmetic to mirror Spark's F.aggregate exactly).
# ---------------------------------------------------------------------------
LSH_TABLES, LSH_PLANES = 16, 4
IVF_CELLS, IVF_PROBE, IVF_ITERS = 16, 4, 3
ANN_K, ANN_QUERIES = 5, 10


def fold_dot(a, b) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s = s + x * y
    return s


def fold_sq(a) -> float:
    s = 0.0
    for x in a:
        s = s + x * x
    return s


def cosine6(a, b) -> float:
    return round6_half_up(fold_dot(a, b) / (np.sqrt(fold_sq(a)) * np.sqrt(fold_sq(b))))


def topk_rank(query_id: int, cands: dict[int, list[float]], qv: list[float], k: int) -> list[dict]:
    scored = sorted(
        ((cosine6(qv, v), vid) for vid, v in cands.items()),
        key=lambda t: (-t[0], t[1]),
    )
    return [
        {"query_id": query_id, "vec_id": vid, "cosine": c, "rank": r + 1}
        for r, (c, vid) in enumerate(scored[:k])
    ]


def ann_lsh_truth(emb: pd.DataFrame) -> pd.DataFrame:
    rng = np.random.default_rng([SEED, 7])
    planes = rng.standard_normal((LSH_TABLES, LSH_PLANES, 64))
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}

    def bucket(v, t):
        b = 0
        for p in range(LSH_PLANES):
            if fold_dot(v, [float(x) for x in planes[t][p]]) > 0:
                b |= 1 << p
        return b

    buckets = {vid: [bucket(v, t) for t in range(LSH_TABLES)] for vid, v in vecs.items()}
    qids = sorted(vecs)[:ANN_QUERIES]
    rows = []
    for q in qids:
        cand = {
            vid: v
            for vid, v in vecs.items()
            if vid != q and any(buckets[vid][t] == buckets[q][t] for t in range(LSH_TABLES))
        }
        rows.extend(topk_rank(q, cand, vecs[q], ANN_K))
    return pd.DataFrame(rows)


def ann_ivf_truth(emb: pd.DataFrame) -> pd.DataFrame:
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}
    ids = sorted(vecs)
    cents = [list(vecs[vid]) for vid in ids[:IVF_CELLS]]

    def sqdist(v, c) -> float:
        s = 0.0
        for x, y in zip(v, c):
            d = x - y
            s = s + d * d
        return s

    def assign(v) -> int:
        best, bc = None, 0
        for ci, c in enumerate(cents):
            d = sqdist(v, c)
            if best is None or d < best:
                best, bc = d, ci
        return bc

    for _ in range(IVF_ITERS):
        cells: dict[int, list[list[float]]] = {}
        for vid in ids:
            cells.setdefault(assign(vecs[vid]), []).append(vecs[vid])
        for ci in range(IVF_CELLS):
            members = cells.get(ci)
            if members:
                arr = np.sum(np.asarray(members, dtype=np.float64), axis=0)
                cnt = len(members)
                cents[ci] = [round(float(s) / cnt, 6) for s in arr]
    cell_of = {vid: assign(vecs[vid]) for vid in ids}
    qids = ids[:ANN_QUERIES]
    rows = []
    for q in qids:
        dists = sorted((sqdist(vecs[q], c), ci) for ci, c in enumerate(cents))
        probed = {ci for _, ci in dists[:IVF_PROBE]}
        cand = {vid: v for vid, v in vecs.items() if vid != q and cell_of[vid] in probed}
        rows.extend(topk_rank(q, cand, vecs[q], ANN_K))
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# Main generation per sf dir.
# ---------------------------------------------------------------------------
def fold_of(url: str) -> int:
    h = hashlib.md5(f"{url}|{FOLD_SEED}".encode()).hexdigest()[:8]
    return int(h, 16) % N_FOLDS


# ---------------------------------------------------------------------------
# M4 ECN inference truth (reference semantics gcn/gcn_models.py:516-609:
# per-layer FW + mean neighbour message passing, relu, softmax head).
# Independent numpy forward pass over the PINNED trained weights
# (truth/ecn_weights_<sf>.json): node features re-derived here from the
# layout plan per the feature spec (Transformer_PageXml.py:67-141 +
# host-repetition), edges from this file's own sweep truth. Only the
# weight VALUES are shared with the pipeline — they are data, not code.
# ---------------------------------------------------------------------------
def ecn_scores_truth(
    docs_regions: dict[str, list[dict]],
    edge_rows: list[dict],
    weights_path: str,
) -> pd.DataFrame:
    import math
    import re

    with open(weights_path) as f:
        w = json.load(f)
    mu = np.asarray(w["mu"], dtype=np.float64)
    sigma = np.asarray(w["sigma"], dtype=np.float64)
    ws = [np.asarray(x, dtype=np.float64) for x in w["ws"]]
    w_out = np.asarray(w["w_out"], dtype=np.float64)

    # corpus-level host-repetition tables (the cross-document features)
    host_of = {url: url.split("/")[2] for url in docs_regions}
    host_urls: dict[str, set] = {}
    rep_urls: dict[tuple, set] = {}
    for url, regions in docs_regions.items():
        h = host_of[url]
        host_urls.setdefault(h, set()).add(url)
        for r in regions:
            key = (h, hashlib.md5(r["text"].encode("utf-8")).hexdigest())
            rep_urls.setdefault(key, set()).add(url)

    # per-node incident g1 edge-type counts (both directions)
    inc: dict[tuple, list[int]] = {}
    g1_by_url: dict[str, list[tuple[str, str]]] = {}
    for e in edge_rows:
        if e["mode"] != "g1":
            continue
        g1_by_url.setdefault(e["url"], []).append((e["src"], e["dst"]))
        for nid in (e["src"], e["dst"]):
            c = inc.setdefault((e["url"], nid), [0, 0, 0])
            if e["etype"] == "H":
                c[0] += 1
            elif e["etype"] == "V":
                c[1] += 1
            elif e["etype"] == "CP":
                c[2] += 1

    re_upper = re.compile("[A-Z]")
    re_digit = re.compile("[0-9]")
    re_all_digit = re.compile(r"^[0-9]+$")
    re_title = re.compile(r"^([A-Z][a-z]*)( [A-Z][a-z]*)*$")

    out = []
    for url, regions in docs_regions.items():
        n = len(regions)
        feats = np.zeros((n, 25), dtype=np.float64)
        idx: dict[str, int] = {}
        h = host_of[url]
        hn = max(len(host_urls[h]), 1)
        for i, r in enumerate(regions):
            idx[r["node_id"]] = i
            pw, ph = r["page_w"], r["page_h"]
            x1, y1, x2, y2 = r["x1"], r["y1"], r["x2"], r["y2"]
            t = r["text"]
            L = len(t)
            nu = len(re_upper.findall(t))
            nd = len(re_digit.findall(t))
            rep = len(rep_urls[(h, hashlib.md5(t.encode("utf-8")).hexdigest())])
            cH, cV, cCP = inc.get((url, r["node_id"]), (0, 0, 0))
            pn, pc = r["page_num"], r["page_cnt"]
            # NODE_FEATURE_COLS order (the scoring contract)
            feats[i] = [
                x1 / pw, y1 / ph, x2 / pw, y2 / ph,
                (x2 - x1) / pw, (y2 - y1) / ph,
                ((x2 - x1) * (y2 - y1)) / (pw * ph),
                (x1 + x2) / (2.0 * pw), (y1 + y2) / (2.0 * ph),
                1.0 if pn % 2 == 0 else 0.0,
                1.0 if pn == 1 else 0.0,
                1.0 if pn == 2 else 0.0,
                1.0 if pn >= 3 else 0.0,
                1.0 if pn == pc else 0.0,
                float(L), float(t.count(" ")),
                1.0 if re_all_digit.search(t) else 0.0,
                1.0 if re_title.search(t) else 0.0,
                (nu / L) if L else 0.0,
                (nd / L) if L else 0.0,
                float(cH), float(cV), float(cCP),
                math.log(rep + 1.0), rep / hn,
            ]
        es = g1_by_url.get(url, [])
        src = np.array([idx[s] for s, _ in es], dtype=np.int64)
        dst = np.array([idx[d] for _, d in es], dtype=np.int64)
        deg = np.zeros(n)
        np.add.at(deg, src, 1.0)
        np.add.at(deg, dst, 1.0)
        deg = np.maximum(deg, 1.0)
        hmat = (feats - mu) / sigma
        for wmat in ws:
            z = hmat @ wmat
            msg = np.zeros_like(z)
            np.add.at(msg, dst, z[src])
            np.add.at(msg, src, z[dst])
            hmat = np.maximum(z + msg / deg[:, None], 0.0)
        logits = hmat @ w_out
        logits -= logits.max(axis=1, keepdims=True)
        e = np.exp(logits)
        p = e / e.sum(axis=1, keepdims=True)
        p1 = np.round(p[:, 1], 6)
        out.append(
            {"url": url, "n_scored": n, "n_main_pred": int((p1 >= 0.5).sum())}
        )
    return pd.DataFrame(out)


def generate(sf_dir: str, out_dir: str) -> dict:
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    node_rows: list[dict] = []
    doc_rows: list[dict] = []
    edge_rows: list[dict] = []
    cluster_rows: list[dict] = []
    geom_rows: list[dict] = []
    dual_rows: list[dict] = []
    bieso_rows: list[dict] = []
    hull_rows: list[dict] = []
    docs_regions: dict[str, list[dict]] = {}
    doc_id_of: dict[str, int] = {}
    for rec in docs.sort_values("doc_id").itertuples():
        plan = plan_doc(int(rec.doc_id), rec.text, rec.lang)
        url = plan["url"]
        page_cnt = len(plan["pages"])
        regions: list[dict] = []
        lines: list[dict] = []
        for pg in plan["pages"]:
            ridx = 0
            for blk in pg["regions"]:
                rtext = " ".join(ln["text"] for ln in blk["lines"])
                row = {
                    "url": url, "doc_id": int(rec.doc_id), "page_num": pg["pnum"],
                    "page_w": 1240.0, "page_h": 3000.0, "page_cnt": page_cnt,
                    "node_id": blk["node_id"], "kind": "TextRegion",
                    "label": blk["label"], "text": rtext,
                    "x1": float(blk["x1"]), "y1": float(blk["y1"]),
                    "x2": float(blk["x2"]), "y2": float(blk["y2"]),
                    "reading_index": ridx,
                }
                regions.append(row)
                node_rows.append(row)
                for li, ln in enumerate(blk["lines"]):
                    lrow = {
                        "url": url, "doc_id": int(rec.doc_id), "page_num": pg["pnum"],
                        "page_w": 1240.0, "page_h": 3000.0, "page_cnt": page_cnt,
                        "node_id": ln["node_id"], "kind": "TextLine",
                        "label": blk["label"], "text": ln["text"],
                        "x1": float(ln["x1"]), "y1": float(ln["y1"]),
                        "x2": float(ln["x2"]), "y2": float(ln["y2"]),
                        "reading_index": li,
                    }
                    lines.append(lrow)
                    node_rows.append(lrow)
                ridx += 1
        # full text: all regions in canonical reading order
        ordered = sorted(regions, key=lambda r: (r["page_num"], r["y1"], r["x1"], r["node_id"]))
        full_text = " ".join(r["text"] for r in ordered)
        doc_rows.append(
            {
                "doc_id": int(rec.doc_id), "url": url,
                "host": f"host{plan['host']:03d}.example.org",
                "fold": fold_of(url), "n_pages": page_cnt,
                "full_text": full_text,
            }
        )
        # edges per mode; g1 edges also carry the LCS-ratio truth
        label_of = {r["node_id"]: r["label"] for r in regions}
        text_of = {r["node_id"]: r["text"] for r in regions}
        g1_edges: list[tuple[str, str, str]] = []
        for mode in ("g1", "g2", "g1o"):
            es = doc_edges_truth(regions, mode)
            if mode == "g1":
                g1_edges = es
            for etype, s, d in es:
                edge_rows.append(
                    {"url": url, "doc_id": int(rec.doc_id), "mode": mode,
                     "etype": etype, "src": s, "dst": d,
                     "lcs2": lcs2_ref(text_of[s], text_of[d]) if mode == "g1" else None}
                )
        # J6 continuous-page mirror edges (spec: Graph_MultiPageXml.py:
        # 78-130 — fake page of lower half p + mirrored upper half p+1,
        # vertical g1 sweep, keep cross-page links)
        by_page: dict[int, list[dict]] = {}
        for r in regions:
            by_page.setdefault(r["page_num"], []).append(r)
        for p in sorted(by_page):
            if p + 1 not in by_page:
                continue
            h0, w1 = 3000.0, 1240.0
            lower = [r for r in by_page[p] if (r["y1"] + r["y2"]) / 2.0 >= h0 / 2.0]
            upper = [r for r in by_page[p + 1] if (r["y1"] + r["y2"]) / 2.0 <= h0 / 2.0]
            if not lower or not upper:
                continue
            fake = []
            for r in lower:
                fake.append((r["node_id"], p, r["x1"], r["x2"], r["y1"] - h0 / 2.0, r["y2"] - h0 / 2.0))
            for r in upper:
                fake.append((r["node_id"], p + 1, w1 - r["x2"], w1 - r["x1"], r["y1"] + h0 / 2.0, r["y2"] + h0 / 2.0))
            fa1 = [f[2] for f in fake]
            fa2 = [f[3] for f in fake]
            fb1 = [f[4] for f in fake]
            fb2 = [f[5] for f in fake]
            for i, j, _, _ in los_pass(fa1, fa2, fb1, fb2, "g1"):
                if fake[i][1] != fake[j][1]:
                    edge_rows.append(
                        {"url": url, "doc_id": int(rec.doc_id), "mode": "cpm",
                         "etype": "CPM", "src": fake[i][0], "dst": fake[j][0],
                         "lcs2": None}
                    )
        # g1 over P5-shrunk boxes (spec: NodeType_PageXml.py:31-43 —
        # dx = max(w*0.066, min(20, w/3)), round-half-even)
        shrunk = []
        for r in regions:
            w, h = r["x2"] - r["x1"], r["y2"] - r["y1"]
            dx = max(w * 0.066, min(20.0, w / 3.0))
            dy = max(h * 0.066, min(20.0, h / 3.0))
            shrunk.append(
                dict(r, x1=float(round(r["x1"] + dx)), x2=float(round(r["x2"] - dx)),
                     y1=float(round(r["y1"] + dy)), y2=float(round(r["y2"] - dy)))
            )
        for etype, s, d in doc_edges_truth(shrunk, "g1"):
            edge_rows.append(
                {"url": url, "doc_id": int(rec.doc_id), "mode": "g1s",
                 "etype": etype, "src": s, "dst": d, "lcs2": None}
            )
        # F5 page-free geometry truth (mirror of node_geom_nopage ops)
        mx = float(max(r["x2"] for r in regions))
        my = float(max(r["y2"] for r in regions))
        mw = float(sum(r["x2"] - r["x1"] for r in regions)) / len(regions)
        mh = float(sum(r["y2"] - r["y1"] for r in regions)) / len(regions)
        for r in regions:
            x1n, x2n = r["x1"] / mx, r["x2"] / mx
            y1n, y2n = r["y1"] / my, r["y2"] / my
            wn, hn = (r["x2"] - r["x1"]) / mw, (r["y2"] - r["y1"]) / mh
            geom_rows.append(
                {
                    "url": url, "node_id": r["node_id"],
                    "ng_x1": round6_half_up(x1n), "ng_x2": round6_half_up(x2n),
                    "ng_x1_sq": round6_half_up(x1n * x1n), "ng_x2_sq": round6_half_up(x2n * x2n),
                    "ng_y1": round6_half_up(y1n), "ng_y2": round6_half_up(y2n),
                    "ng_y1_sq": round6_half_up(y1n * y1n), "ng_y2_sq": round6_half_up(y2n * y2n),
                    "ng_w": round6_half_up(wn), "ng_h": round6_half_up(hn),
                    "ng_w_sq": round6_half_up(wn * wn), "ng_h_sq": round6_half_up(hn * hn),
                }
            )
        # clusters over oracle-scored g1 edges
        nids = [r["node_id"] for r in regions]
        same = [(s, d) for _, s, d in g1_edges if label_of[s] == label_of[d]]
        comps = components(nids, same)
        n_cc = len(comps)
        scored = [(s, d, 1.0 if label_of[s] == label_of[d] else 0.0) for _, s, d in g1_edges]
        n_agglo = agglo_count(nids, scored)
        cluster_rows.append({"url": url, "algo": "cc", "n_clusters": n_cc})
        cluster_rows.append({"url": url, "algo": "agglo", "n_clusters": n_agglo})
        # C4 cluster hulls (cc clusters; hull of member box corners)
        box_of = {r["node_id"]: (r["x1"], r["y1"], r["x2"], r["y2"]) for r in regions}
        for ci, members in enumerate(comps):
            pts: list[tuple[float, float]] = []
            for nid in members:
                bx1, by1, bx2, by2 = box_of[nid]
                pts += [(bx1, by1), (bx2, by1), (bx2, by2), (bx1, by2)]
            hull = jarvis_hull(pts)
            hull_rows.append(
                {
                    "url": url, "cluster_id": ci, "algo": "cc",
                    "n_nodes": len(members),
                    "hull_points": " ".join(f"{int(x)},{int(y)}" for x, y in hull),
                }
            )
        docs_regions[url] = regions
        doc_id_of[url] = int(rec.doc_id)
        # dual graph size: sum over endpoints of C(deg, 2)
        deg: dict[str, int] = {}
        for _, s, d in g1_edges:
            deg[s] = deg.get(s, 0) + 1
            deg[d] = deg.get(d, 0) + 1
        dual_rows.append(
            {"url": url, "n_dual_edges": sum(k * (k - 1) // 2 for k in deg.values())}
        )
        # bieso over line nodes
        for nid, tag in bieso_truth(lines):
            bieso_rows.append({"url": url, "node_id": nid, "bieso": tag})

    # Full-C9 table fixture truth: row/line counts and the perfect-f1
    # expectation come from the generator's plan (identifiability of the
    # fixture family is the contract the detector must meet).
    from transkribusdu_spark.synth import plan_table

    table_rows = []
    for tid in range(40):
        plan = plan_table(tid)
        table_rows.append(
            {
                "table_id": tid, "n_rows": int(plan["n_rows"]),
                "n_lines": len(plan["lines"]), "row_f1": 1.0,
            }
        )

    os.makedirs(out_dir, exist_ok=True)
    pd.DataFrame(table_rows).to_parquet(os.path.join(out_dir, "tables.parquet"), index=False)
    nodes_df = pd.DataFrame(node_rows)
    pd.DataFrame(node_rows).to_parquet(os.path.join(out_dir, "nodes.parquet"), index=False)
    pd.DataFrame(doc_rows).to_parquet(os.path.join(out_dir, "docs.parquet"), index=False)
    pd.DataFrame(edge_rows).to_parquet(os.path.join(out_dir, "edges.parquet"), index=False)
    pd.DataFrame(cluster_rows).to_parquet(os.path.join(out_dir, "clusters.parquet"), index=False)
    pd.DataFrame(dual_rows).to_parquet(os.path.join(out_dir, "dual.parquet"), index=False)
    pd.DataFrame(bieso_rows).to_parquet(os.path.join(out_dir, "bieso.parquet"), index=False)
    pd.DataFrame(geom_rows).to_parquet(os.path.join(out_dir, "geom_nopage.parquet"), index=False)
    pd.DataFrame(hull_rows).to_parquet(os.path.join(out_dir, "hulls.parquet"), index=False)
    pd.DataFrame(pred_smoothed_truth(docs_regions, doc_id_of)).to_parquet(
        os.path.join(out_dir, "pred_smoothed.parquet"), index=False
    )
    region_rows = [r for r in node_rows if r["kind"] == "TextRegion"]
    chi2_truth(region_rows).to_parquet(os.path.join(out_dir, "chi2.parquet"), index=False)
    wpath = os.path.join(
        REPO, "truth", f"ecn_weights_{os.path.basename(out_dir.rstrip('/'))}.json"
    )
    if os.path.exists(wpath):
        ecn_scores_truth(docs_regions, edge_rows, wpath).to_parquet(
            os.path.join(out_dir, "ecn_scores.parquet"), index=False
        )
    emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ann_lsh_truth(emb).to_parquet(os.path.join(out_dir, "ann_lsh.parquet"), index=False)
    ann_ivf_truth(emb).to_parquet(os.path.join(out_dir, "ann_ivf.parquet"), index=False)
    manifest = {
        "sf_dir": sf_dir,
        "n_docs": int(len(docs)),
        "n_nodes": int(len(nodes_df)),
        "n_edges_g1": int(sum(1 for e in edge_rows if e["mode"] == "g1")),
        "chi2_features": CHI2_FEATURES,
        "fold": {"seed": FOLD_SEED, "n_folds": N_FOLDS, "rule": "int(md5(url|seed)[:8],16) % n"},
    }
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    for sf_dir in sf_dirs:
        out_dir = os.path.join(REPO, "truth", os.path.basename(sf_dir.rstrip("/")))
        m = generate(sf_dir, out_dir)
        print(json.dumps(m))


if __name__ == "__main__":
    main()
