"""Segmentation: edge continue/break probabilities -> node clusters.

Reference semantics (SURVEY.md §2.8): connected components over edges
with P(continue) >= threshold (C2,
``GraphBinaryConjugateSegmenter.py:99-136``) and agglomerative merging
seeded by CC@0.99 (C3, ``:139-279``). The reference uses a dense N x N
adjacency + recursive DFS (an O(N^2)-memory anti-pattern, SURVEY.md §4);
we use union-find over the edge list — O(E α(N)) — in one Arrow kernel
call per document (:func:`.perdoc.per_url`). Documents never share edges
(``graph/Graph_Multi_SinglePageXml.py:77-133``), so no cross-document
iteration (GraphFrames-style) is ever needed. With the edge oracle the
whole chain is per document too: :func:`oracle_clusters_doc` runs edges,
scores and components on one parsed document, inside the single map-only
pass of ``api.conjugate_cluster``.
"""

from __future__ import annotations

from typing import Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import CLUSTERS_SCHEMA
from .edges import doc_edges
from .perdoc import per_url


class _UF:
    __slots__ = ("p", "r")

    def __init__(self, n: int):
        self.p = list(range(n))
        self.r = [0] * n

    def find(self, x: int) -> int:
        p = self.p
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return
        if self.r[ra] < self.r[rb]:
            ra, rb = rb, ra
        self.p[rb] = ra
        if self.r[ra] == self.r[rb]:
            self.r[ra] += 1


def cluster_doc(node_ids: list[str], edges: Mapping, threshold: float) -> list[list[str]]:
    """Union-find connected components for one document; ``edges`` maps
    ``src``/``dst``/``p_continue`` to columns (unit-testable)."""
    idx = {nid: i for i, nid in enumerate(node_ids)}
    uf = _UF(len(node_ids))
    for src, dst, pc in zip(edges["src"], edges["dst"], edges["p_continue"]):
        if pc >= threshold and src in idx and dst in idx:
            uf.union(idx[src], idx[dst])
    groups: dict[int, list[str]] = {}
    for nid, i in idx.items():
        groups.setdefault(uf.find(i), []).append(nid)
    # deterministic: clusters ordered by smallest member id, members sorted
    out = [sorted(g) for g in groups.values()]
    out.sort(key=lambda g: g[0])
    return out


def agglomerate_doc(
    node_ids: list[str], edges: Mapping, seed_threshold: float = 0.99
) -> list[list[str]]:
    """Agglomerative cluster merging for one document (reference C3,
    ``GraphBinaryConjugateSegmenter.py:139-279``): seed clusters =
    connected components at a high threshold, then repeatedly merge the
    best-scoring cluster pair — score(A,B) = sum(p_continue - p_break)
    over edges between A and B — while the best score is positive.

    Edge-list formulation (no dense N x N matrix): inter-cluster scores
    are aggregated from edges and updated incrementally on merge.
    """
    clusters = cluster_doc(node_ids, edges, seed_threshold)
    owner = {n: i for i, c in enumerate(clusters) for n in c}
    members: dict[int, list[str]] = {i: list(c) for i, c in enumerate(clusters)}
    # inter-cluster score accumulation
    score: dict[tuple[int, int], float] = {}
    for src, dst, pc in zip(edges["src"], edges["dst"], edges["p_continue"]):
        a, b = owner.get(src), owner.get(dst)
        if a is None or b is None or a == b:
            continue
        key = (min(a, b), max(a, b))
        score[key] = score.get(key, 0.0) + (2.0 * float(pc) - 1.0)
    while score:
        (a, b), best = max(score.items(), key=lambda kv: (kv[1], (-kv[0][0], -kv[0][1])))
        if best <= 0.0:
            break
        # merge b into a
        members[a].extend(members.pop(b))
        new_score: dict[tuple[int, int], float] = {}
        for (x, y), s in score.items():
            if (x, y) == (a, b):
                continue
            x2 = a if x == b else x
            y2 = a if y == b else y
            if x2 == y2:
                continue
            k = (min(x2, y2), max(x2, y2))
            new_score[k] = new_score.get(k, 0.0) + s
        score = new_score
    out = [sorted(c) for c in members.values()]
    out.sort(key=lambda g: g[0])
    return out


def _cluster_by(nodes: DataFrame, edge_scores: DataFrame, algo: str,
                threshold: float) -> DataFrame:
    """Shared distributed shape for both clusterers: nodes and scored
    edges are COGROUPED per url (two clean keyed streams — no
    null-padded union frame), each document solved by its kernel."""
    solve = agglomerate_doc if algo == "agglo" else cluster_doc

    def run(n: Mapping[str, np.ndarray], e: Mapping[str, np.ndarray]) -> dict[str, list]:
        clusters = solve(sorted({v for v in n["node_id"].tolist() if v is not None}), e, threshold)
        k = len(clusters)
        return dict(url=n["url"][:1].tolist() * k, cluster_id=list(range(k)),
                    node_ids=clusters, proba=[None] * k, algo=[algo] * k)

    return per_url(
        CLUSTERS_SCHEMA, run,
        nodes.select("url", "node_id"), edge_scores.select("url", "src", "dst", "p_continue"),
    )


def agglomerative_clusters(nodes: DataFrame, edge_scores: DataFrame,
                           seed_threshold: float = 0.99) -> DataFrame:
    """Distributed agglomerative segmentation: same shuffle shape as
    connected_components, C3 kernel per document."""
    return _cluster_by(nodes, edge_scores, "agglo", seed_threshold)


def connected_components(nodes: DataFrame, edge_scores: DataFrame,
                         threshold: float = 0.5) -> DataFrame:
    """nodes + scored edges -> clusters (url, cluster_id, node_ids, proba, algo).

    One co-partitioned cogroup on url; singletons (nodes without a
    continue-edge) become their own cluster, matching the reference.
    """
    return _cluster_by(nodes, edge_scores, "cc", threshold)


def oracle_clusters_doc(cols: Mapping) -> list[list[str]]:
    """Conjugate clusters of one parsed document (:func:`.parse.parse_doc_cols`
    columns) under the edge oracle: the line-of-sight edges
    (:func:`.edges.doc_edges`), each scored ``p_continue = 1`` iff its
    endpoints share a label, then :func:`cluster_doc` at 0.5. It equals
    ``connected_components(nodes, edge_oracle_scores(edge_features(
    build_edges(nodes), nodes)))`` on the document: an id held by several
    nodes joins there as a cross product, so two ids are united iff an
    edge links them and their label sets intersect. Id-less nodes are
    left out, and a document without named nodes has no cluster."""
    labels: dict[str, set[str]] = {}
    for nid, lab in zip(cols["node_id"], cols["label"]):
        if nid is not None:
            labels.setdefault(nid, set()).add(lab)
    edges = doc_edges(cols)
    edges["p_continue"] = [float(not labels[s].isdisjoint(labels[d]))
                           for s, d in zip(edges["src"], edges["dst"])]
    return cluster_doc(sorted(labels), edges, 0.5)


def split_cluster_columns(
    members: list[tuple[str, float, float, float, float]], min_gap: float = 30.0
) -> tuple[list[list[str]], tuple[float, float] | None]:
    """C7 applied to region splitting (reference ``util/statSeparator.py``
    wired into the segmenter): if a cluster's members leave a horizontal
    whitespace gap >= min_gap in their x-projection, split it into
    left/right sub-clusters at the widest gap and return the exact
    max-margin separator line (a, b) between the two corner sets —
    vertical separators are reported as (inf, x_threshold).

    members: (node_id, x1, y1, x2, y2). Pure kernel (unit-testable);
    :func:`split_wide_clusters` lifts it over the clusters table.
    """
    from ..functions.separator import get_linear_separator

    if len(members) < 2:
        return [sorted(m[0] for m in members)], None
    ms = sorted(members, key=lambda m: (m[1], m[3], m[0]))
    best_gap, best_cut = 0.0, None
    runmax = ms[0][3]
    for i in range(1, len(ms)):
        gap = ms[i][1] - runmax
        if gap > best_gap:
            best_gap, best_cut = gap, (runmax + ms[i][1]) / 2.0
        runmax = max(runmax, ms[i][3])
    if best_cut is None or best_gap < min_gap:
        return [sorted(m[0] for m in members)], None
    left = [m for m in ms if m[3] <= best_cut]
    right = [m for m in ms if m[1] > best_cut]
    pts, labels = [], []
    for group, lab in ((left, 0), (right, 1)):
        for _, x1, y1, x2, y2 in group:
            pts += [(x1, y1), (x2, y1), (x2, y2), (x1, y2)]
            labels += [lab] * 4
    try:
        sep = get_linear_separator(np.asarray(pts, dtype=float), np.asarray(labels))
    except ValueError:
        sep = (float("inf"), float(best_cut))  # vertical separator x = cut
    return (
        [sorted(m[0] for m in left), sorted(m[0] for m in right)],
        (float(sep[0]), float(sep[1])),
    )


def split_wide_clusters(clusters: DataFrame, nodes: DataFrame,
                        min_gap: float = 30.0) -> DataFrame:
    """Distributed C7 region splitting: re-partition each cluster whose
    members straddle a whitespace column gap; same cogrouped-per-url
    shape as the clusterers. Emits the refined clusters table plus a
    ``separator`` column (a, b) on rows produced by a split."""
    from pyspark.sql import types as T

    memb = clusters.select(
        "url", "cluster_id", "algo", F.explode("node_ids").alias("node_id")
    ).join(nodes.select("url", "node_id", "x1", "y1", "x2", "y2"), ["url", "node_id"])

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("cluster_id", T.IntegerType(), False),
            T.StructField("algo", T.StringType(), False),
            T.StructField("node_ids", T.ArrayType(T.StringType(), False), False),
            T.StructField("separator", T.ArrayType(T.DoubleType(), True), True),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for (url, _cid, algo), g in pdf.groupby(["url", "cluster_id", "algo"]):
            members = list(zip(g["node_id"], g["x1"], g["y1"], g["x2"], g["y2"]))
            groups, sep = split_cluster_columns(members, min_gap)
            for grp in groups:
                out.append(
                    {"url": url, "cluster_id": 0, "algo": algo, "node_ids": grp,
                     "separator": list(sep) if sep is not None else None}
                )
        out.sort(key=lambda r: r["node_ids"][0] if r["node_ids"] else "")
        for i, r in enumerate(out):
            r["cluster_id"] = i
        cols = [f.name for f in schema.fields]
        return pd.DataFrame(out, columns=cols)

    return memb.groupBy("url").applyInPandas(run, schema=schema)


def clusters_with_hulls(clusters: DataFrame, nodes: DataFrame) -> DataFrame:
    """C4 cluster -> DOM geometry: each cluster gets the convex hull of
    its members' box corners as a PageXML-style points string (reference
    emits hull polygons on the cluster elements; shapely-free via the
    monotone-chain hull in functions/separator.py)."""
    from pyspark.sql import types as T

    from ..functions.separator import convex_hull

    memb = clusters.select(
        "url", "cluster_id", "algo", F.explode("node_ids").alias("node_id")
    ).join(nodes.select("url", "node_id", "x1", "y1", "x2", "y2"), ["url", "node_id"])

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("cluster_id", T.IntegerType(), False),
            T.StructField("algo", T.StringType(), False),
            T.StructField("n_nodes", T.IntegerType(), False),
            T.StructField("hull_points", T.StringType(), False),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for (url, cid, algo), g in pdf.groupby(["url", "cluster_id", "algo"]):
            pts = np.concatenate(
                [
                    g[["x1", "y1"]].to_numpy(), g[["x2", "y1"]].to_numpy(),
                    g[["x2", "y2"]].to_numpy(), g[["x1", "y2"]].to_numpy(),
                ]
            ).astype(float)
            hull = convex_hull(pts)
            s = " ".join(f"{int(x)},{int(y)}" for x, y in hull)
            out.append(
                {"url": url, "cluster_id": int(cid), "algo": algo,
                 "n_nodes": len(g), "hull_points": s}
            )
        cols = [f.name for f in schema.fields]
        return pd.DataFrame(out, columns=cols)

    return memb.groupBy("url").applyInPandas(run, schema=schema)
