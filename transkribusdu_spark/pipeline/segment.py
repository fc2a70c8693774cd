"""Segmentation: edge continue/break probabilities -> node clusters.

Reference semantics (SURVEY.md §2.8): connected components over edges
with P(continue) >= threshold (C2,
``GraphBinaryConjugateSegmenter.py:99-136``) and agglomerative merging
seeded by CC@0.99 (C3, ``:139-279``). The reference uses a dense N x N
adjacency + recursive DFS (an O(N^2)-memory anti-pattern, SURVEY.md §4);
we use union-find over the edge list — O(E α(N)) — in one Arrow kernel
call per document (:func:`.perdoc.per_url`). Documents never share edges
(``graph/Graph_Multi_SinglePageXml.py:77-133``), so no cross-document
iteration (GraphFrames-style) is ever needed. The staged clusterers join
tables on ``(url, node_id)``. With the edge oracle the whole chain is
per document: :func:`oracle_clusters_doc` (edges, scores, components)
and :func:`regions_doc` (plus column split and hulls) are the kernels of
the map-only passes of ``api.conjugate_cluster`` and
``api.segment_regions`` (:func:`.perdoc.per_doc`). They key a node on
its position in the document; ids become output only in
:func:`_named_groups`. Both keys share one grouping, :func:`_components`.
"""

from __future__ import annotations

from typing import Iterable, Mapping, Sequence

import numpy as np
from pyspark.sql import DataFrame

from ..schemas import CLUSTERS_SCHEMA, HULLS_SCHEMA
from .edges import edge_positions
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


def _components(n: int, pairs: Iterable[tuple[int, int]]) -> list[list[int]]:
    """Union-find components of nodes ``0..n-1`` under ``pairs``, as
    ascending positions, in order of first position."""
    uf = _UF(n)
    for a, b in pairs:
        uf.union(a, b)
    groups: dict[int, list[int]] = {}
    for i in range(n):
        groups.setdefault(uf.find(i), []).append(i)
    return list(groups.values())


def cluster_doc(node_ids: list[str], edges: Mapping, threshold: float) -> list[list[str]]:
    """Connected components of one document's distinct ``node_ids``;
    ``edges`` maps ``src``/``dst``/``p_continue`` to columns
    (unit-testable). Clusters ordered by smallest member id, members sorted."""
    idx = {nid: i for i, nid in enumerate(node_ids)}
    pairs = ((idx[s], idx[d]) for s, d, pc in zip(edges["src"], edges["dst"], edges["p_continue"])
             if pc >= threshold and s in idx and d in idx)
    out = [sorted(node_ids[i] for i in g) for g in _components(len(node_ids), pairs)]
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
    null-padded union frame), each document solved by its kernel over
    its distinct named node ids."""
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
    """Distributed agglomerative segmentation: same shuffle shape (and
    node-id key) as connected_components, C3 kernel per document."""
    return _cluster_by(nodes, edge_scores, "agglo", seed_threshold)


def connected_components(nodes: DataFrame, edge_scores: DataFrame,
                         threshold: float = 0.5) -> DataFrame:
    """nodes + scored edges -> clusters (url, cluster_id, node_ids, proba, algo).

    One co-partitioned cogroup on url; singletons (nodes without a
    continue-edge) become their own cluster, matching the reference.
    Nodes are keyed on ``(url, node_id)``, so this assumes unique ids
    per document (``parse.dedup_guard`` returns the rows that break it)
    and leaves id-less nodes out.
    """
    return _cluster_by(nodes, edge_scores, "cc", threshold)


def _named_groups(node_id: Sequence, groups: Iterable[Sequence[int]]
                  ) -> list[tuple[list[str], Sequence[int]]]:
    """The fused kernels' output boundary: ``(names, group)`` for each
    group of positions with a named member, ``names`` the sorted ids of
    its named nodes (one per node), ordered by ``min((id is None, id or
    "", position))`` over members: on unique ids, by first member id."""
    keyed = []
    for g in groups:
        named = [(node_id[i], i) for i in g if node_id[i] is not None]
        if named:
            keyed.append((min(named), sorted(nid for nid, _ in named), g))
    keyed.sort(key=lambda t: t[0])
    return [(names, g) for _, names, g in keyed]


def _oracle_components(cols: Mapping) -> list[list[int]]:
    """Components of one parsed document's positions over its
    line-of-sight edges whose endpoints share a label (edge oracle)."""
    label = cols["label"]
    e = edge_positions(cols, "g1")
    return _components(len(label), ((i, j) for i, j in zip(e["src"], e["dst"])
                                    if label[i] == label[j]))


def oracle_clusters_doc(cols: Mapping) -> list[list[str]]:
    """Conjugate clusters of one parsed document (:func:`.parse.parse_doc_cols`
    columns) under the edge oracle, as :func:`_named_groups` id lists. On
    unique ids it equals ``connected_components(nodes, edge_oracle_scores(
    edge_features(build_edges(nodes), nodes)))`` on the document."""
    return [names for names, _ in _named_groups(cols["node_id"], _oracle_components(cols))]


def split_cluster_columns(
    members: list[tuple], min_gap: float = 30.0
) -> tuple[list[list], tuple[float, float] | None]:
    """C7 applied to region splitting (reference ``util/statSeparator.py``
    wired into the segmenter): if a cluster's members leave a horizontal
    whitespace gap >= min_gap in their x-projection, split it into
    left/right sub-clusters at the widest gap and return the exact
    max-margin separator line (a, b) between the two corner sets —
    vertical separators are reported as (inf, x_threshold).

    members: (key, x1, y1, x2, y2) with distinct keys (node positions
    in :func:`split_clusters_doc`). Pure kernel (unit-testable).
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


def _hull_points(boxes: Sequence[Sequence[float]]) -> str:
    """C4 cluster -> DOM geometry: the convex hull of the boxes' corners
    (all top-left corners, then top-right, bottom-right, bottom-left;
    shapely-free monotone chain from functions/separator.py) as a
    PageXML-style points string of truncated ints (the reference emits
    hull polygons on the cluster elements)."""
    from ..functions.separator import convex_hull

    b = np.asarray(boxes, dtype=float)
    pts = np.concatenate([b[:, [0, 1]], b[:, [2, 1]], b[:, [2, 3]], b[:, [0, 3]]])
    return " ".join(f"{int(x)},{int(y)}" for x, y in convex_hull(pts))


def _hull_cols(url: str, cluster_ids: Sequence[int], algos: Sequence[str],
               members: Sequence[list]) -> dict[str, list]:
    return dict(url=[url] * len(members), cluster_id=[int(c) for c in cluster_ids],
                algo=list(algos), n_nodes=[len(m) for m in members],
                hull_points=[_hull_points(m) for m in members])


def split_clusters_doc(cols: Mapping) -> list[list[int]]:
    """The oracle components of one parsed document, each split at a
    whitespace column gap of at least 30 (:func:`split_cluster_columns`),
    as the positions of the :func:`_named_groups` refined clusters."""
    boxes = list(zip(cols["x1"], cols["y1"], cols["x2"], cols["y2"]))
    refined: list[list[int]] = []
    for g in _oracle_components(cols):
        refined += split_cluster_columns([(i, *boxes[i]) for i in g])[0]
    return [g for _, g in _named_groups(cols["node_id"], refined)]


def regions_doc(url: str, cols: Mapping) -> dict[str, list]:
    """``HULLS_SCHEMA`` columns of one parsed document: a hull over the
    member boxes of each :func:`split_clusters_doc` cluster."""
    boxes = list(zip(cols["x1"], cols["y1"], cols["x2"], cols["y2"]))
    refined = split_clusters_doc(cols)
    k = len(refined)
    return _hull_cols(url, range(k), ["cc"] * k, [[boxes[i] for i in g] for g in refined])


def clusters_with_hulls(clusters: DataFrame, nodes: DataFrame) -> DataFrame:
    """One ``HULLS_SCHEMA`` row per cluster row with a member in
    ``nodes``, one url cogroup (:func:`.perdoc.per_url`). Members join on
    node id, so this assumes unique ids per document (``parse.dedup_guard``)."""

    def run(c: Mapping[str, np.ndarray], n: Mapping[str, np.ndarray]) -> dict[str, list]:
        boxes: dict[str, list] = {}
        for nid, *box in zip(n["node_id"], n["x1"], n["y1"], n["x2"], n["y2"]):
            boxes.setdefault(nid, []).append(box)
        rows = [(cid, algo, [b for nid in ids for b in boxes.get(nid, ())])
                for cid, algo, ids in zip(c["cluster_id"], c["algo"], c["node_ids"])]
        cids, algos, members = list(zip(*[r for r in rows if r[2]])) or ((), (), ())
        return _hull_cols(c["url"][0] if cids else None, cids, algos, members)

    return per_url(
        HULLS_SCHEMA, run,
        clusters.select("url", "cluster_id", "algo", "node_ids"),
        nodes.select("url", "node_id", "x1", "y1", "x2", "y2"),
    )
