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
scores and components on one parsed document, and :func:`regions_doc`
adds the column split and the hulls; they are the kernels of the single
map-only passes of ``api.conjugate_cluster`` and ``api.segment_regions``
(:func:`.perdoc.per_doc`).
"""

from __future__ import annotations

from typing import Mapping, Sequence

import numpy as np
from pyspark.sql import DataFrame

from ..schemas import CLUSTERS_SCHEMA, HULLS_SCHEMA
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
    :func:`split_clusters_doc` runs it on every cluster of a document.
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


def boxes_by_id(cols: Mapping) -> dict[str, list[list[float]]]:
    """Every ``[x1, y1, x2, y2]`` box of a document's node columns under
    its node id, in document order; id-less nodes are left out. An id
    held by several nodes maps to all their boxes, as a join of cluster
    members to the node table on (url, node_id) would give."""
    out: dict[str, list[list[float]]] = {}
    for nid, *box in zip(cols["node_id"], cols["x1"], cols["y1"], cols["x2"], cols["y2"]):
        if nid is not None:
            out.setdefault(nid, []).append(box)
    return out


def cluster_hulls_doc(clusters: Sequence[Sequence[str]],
                      boxes: Mapping[str, list]) -> list[tuple[int, int, str]]:
    """C4 cluster -> DOM geometry for one document: ``(i, n_nodes,
    hull_points)`` for each cluster ``i`` with at least one member box.
    Every occurrence of an id in a cluster contributes every box carrying
    that id, and ``n_nodes`` counts those boxes. The hull is the convex
    hull of the boxes' corners (all top-left corners, then top-right,
    bottom-right, bottom-left; shapely-free monotone chain from
    functions/separator.py) as a PageXML-style points string of
    truncated ints (the reference emits hull polygons on the cluster
    elements)."""
    from ..functions.separator import convex_hull

    out = []
    for i, ids in enumerate(clusters):
        member = [b for nid in ids for b in boxes.get(nid, ())]
        if member:
            b = np.asarray(member, dtype=float)
            pts = np.concatenate([b[:, [0, 1]], b[:, [2, 1]], b[:, [2, 3]], b[:, [0, 3]]])
            hull = " ".join(f"{int(x)},{int(y)}" for x, y in convex_hull(pts))
            out.append((i, len(member), hull))
    return out


def _hull_cols(url: str, cluster_ids: Sequence[int], algos: Sequence[str],
               hulls: list[tuple[int, int, str]]) -> dict[str, list]:
    return dict(url=[url] * len(hulls), cluster_id=[int(cluster_ids[i]) for i, _, _ in hulls],
                algo=[algos[i] for i, _, _ in hulls], n_nodes=[n for _, n, _ in hulls],
                hull_points=[h for _, _, h in hulls])


def split_clusters_doc(cols: Mapping, boxes: Mapping[str, list]) -> list[list[str]]:
    """The oracle clusters of one parsed document (:func:`oracle_clusters_doc`),
    each split at a whitespace column gap of at least 30
    (:func:`split_cluster_columns`) over its members' :func:`boxes_by_id`
    boxes, and renumbered by first member id (a stable sort: ties keep
    cluster order, left before right). An id held by several nodes
    brings all their boxes, so it is listed once per box and can land on
    both sides of a split."""
    refined: list[list[str]] = []
    for ids in oracle_clusters_doc(cols):
        groups, _ = split_cluster_columns([(nid, *b) for nid in ids for b in boxes[nid]])
        refined += groups
    refined.sort(key=lambda g: g[0])
    return refined


def regions_doc(url: str, cols: Mapping) -> dict[str, list]:
    """Region geometry of one parsed document, as ``HULLS_SCHEMA``
    columns: :func:`split_clusters_doc`, then :func:`cluster_hulls_doc`,
    both over the document's own :func:`boxes_by_id`."""
    boxes = boxes_by_id(cols)
    refined = split_clusters_doc(cols, boxes)
    k = len(refined)
    return _hull_cols(url, range(k), ["cc"] * k, cluster_hulls_doc(refined, boxes))


def clusters_with_hulls(clusters: DataFrame, nodes: DataFrame) -> DataFrame:
    """:func:`cluster_hulls_doc` over a clusters table and its node table,
    one url cogroup (:func:`.perdoc.per_url`): one ``HULLS_SCHEMA`` row
    per cluster row that has a member in ``nodes``."""

    def run(c: Mapping[str, np.ndarray], n: Mapping[str, np.ndarray]) -> dict[str, list]:
        url = c["url"][0] if len(c["url"]) else None  # a nodes-only url has no cluster
        return _hull_cols(url, c["cluster_id"], c["algo"],
                          cluster_hulls_doc(c["node_ids"], boxes_by_id(n)))

    return per_url(
        HULLS_SCHEMA, run,
        clusters.select("url", "cluster_id", "algo", "node_ids"),
        nodes.select("url", "node_id", "x1", "y1", "x2", "y2"),
    )
