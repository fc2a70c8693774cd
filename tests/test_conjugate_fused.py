"""Map-only oracle conjugate clustering (``api.conjugate_cluster``) and
region segmentation (``api.segment_regions``): equal to the staged
compositions they replace on the fixture pages and on planted documents
with unique ids, and pinned on planted documents with a repeated or a
missing ``@id``, where the fused passes key nodes on their position and
the staged ones on their id."""

import os
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from transkribusdu_spark import api
from transkribusdu_spark.functions.separator import convex_hull
from transkribusdu_spark.pipeline.edges import build_edges
from transkribusdu_spark.pipeline.extract import extract_from_pages
from transkribusdu_spark.pipeline.features import edge_features
from transkribusdu_spark.pipeline.model import edge_oracle_scores
from transkribusdu_spark.pipeline.parse import parse_pages
from transkribusdu_spark.pipeline.segment import connected_components, split_cluster_columns
from transkribusdu_spark.synth import pages_from_documents

HOST = "https://planted.example.org/doc/"


def _region(rid, x, y, label, text, w=200, h=30):
    ident = "" if rid is None else f' id="{rid}"'
    return (
        f'<TextRegion{ident} custom="structure {{type:{label};}}">'
        f'<Coords points="{x},{y} {x + w},{y} {x + w},{y + h} {x},{y + h}"/>'
        f"<TextLine><TextEquiv><Unicode>{text}</Unicode></TextEquiv></TextLine>"
        f"</TextRegion>"
    )


def _doc(*pages):
    body = "".join(f'<Page imageWidth="600" imageHeight="800">{"".join(p)}</Page>'
                   for p in pages)
    return f"<PcGts>{body}</PcGts>".encode()


# one column, top to bottom; the middle box has no @id but still blocks
# the line of sight between a and b
IDLESS = _doc([_region("a", 50, 10, "paragraph", "alpha"),
               _region(None, 50, 60, "paragraph", "middle"),
               _region("b", 50, 110, "paragraph", "beta")])

# two columns 40 apart: one oracle cluster, split into L and R
COLUMNS = _doc([_region(f"{side}{i}", x, 50 * i, "paragraph", f"{side}{i}", w=290 if side == "L" else 260)
                for i in range(3) for side, x in (("L", 10), ("R", 340))])

PLANTED = {
    # id "d" is a paragraph box and a heading box: the heading d joins
    # e, the paragraph d stays alone (the staged id join would unite d,
    # e and f through the endpoint cross product)
    "900001": _doc([_region("d", 50, 10, "paragraph", "one"),
                    _region("e", 50, 60, "heading", "two"),
                    _region("d", 50, 110, "heading", "three"),
                    _region("f", 50, 160, "paragraph", "four")]),
    # two pages with the same boxes: CP edges, one same-label pair
    "900002": _doc([_region("p1a", 50, 10, "paragraph", "x"),
                    _region("p1b", 300, 10, "header", "y")],
                   [_region("p2a", 50, 12, "paragraph", "z"),
                    _region("p2b", 300, 12, "paragraph", "w")]),
    "900003": b"<PcGts><Page",
    "900004": _doc([]),
    "900005": IDLESS,
    "900006": COLUMNS,
    # id "q" is a box in each column: the split puts one q on each side
    "900007": _doc([_region("q", 10, 0, "paragraph", "q1", w=190),
                    _region("q", 400, 0, "paragraph", "q2"),
                    _region("s", 10, 50, "paragraph", "s", w=190)]),
}
# the planted documents whose ids are unique (or that have no node), on
# which the fused and the staged passes agree
UNIQUE_IDS = {HOST + k for k in ("900002", "900003", "900004", "900006")}


def _planted(spark, docs):
    return spark.createDataFrame(
        [(HOST + k, bytearray(v)) for k, v in docs.items()], "url string, html binary")


def _staged(pages):
    nodes = parse_pages(pages)
    return connected_components(nodes, edge_oracle_scores(edge_features(build_edges(nodes), nodes)))


def _rows(df):
    return sorted((r.url, r.cluster_id, tuple(r.node_ids), r.proba, r.algo)
                  for r in df.collect())


def _fixture_and_planted(spark, sf_dir):
    sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    return pages_from_documents(spark, sf).select("url", "html").unionByName(
        _planted(spark, PLANTED))


def _comparable(rows):
    """The rows of the fixture documents and of the unique-id planted ones."""
    return [r for r in rows if not r[0].startswith(HOST) or r[0] in UNIQUE_IDS]


def _by_planted_doc(rows):
    got = defaultdict(list)
    for url, *rest in rows:
        if url.startswith(HOST):
            got[url[len(HOST):]].append(tuple(rest))
    return dict(got)


def _node_counts(pages):
    return {r.url[len(HOST):]: r["count"]
            for r in parse_pages(pages).filter(F.col("url").startswith(HOST))
            .groupBy("url").count().collect()}


def test_conjugate_cluster_equals_staged_oracle_composition(spark, sf_dir):
    pages = _fixture_and_planted(spark, sf_dir)
    fused = _rows(api.conjugate_cluster(pages))
    assert _comparable(fused) == _comparable(_rows(_staged(pages)))
    for _, _, _, proba, algo in fused:
        assert proba is None and algo == "cc"
    planted = {k: [list(ids) for _, ids, _, _ in v] for k, v in _by_planted_doc(fused).items()}
    assert planted == {
        # a node is its position: the two d nodes land in different
        # clusters, and d is listed once per node that carries it
        "900001": [["d"], ["d", "e"], ["f"]],
        "900002": [["p1a", "p2a", "p2b"], ["p1b"]],
        # the id-less middle box links a and b
        "900005": [["a", "b"]],
        "900006": [["L0", "L1", "L2", "R0", "R1", "R2"]],
        "900007": [["q", "q", "s"]],
    }


def test_idless_region_does_not_kill_the_job(spark, sf_dir):
    """A TextRegion without @id parses to a null node_id: every stage
    finishes, the id-less box still occludes, an edge table has no row
    for it, and the fused clustering links through it."""
    normal = pages_from_documents(spark, sf_dir).select("url", "html").limit(5)
    pages = normal.unionByName(_planted(spark, {"900005": IDLESS}))
    ids = [r.node_id for r in parse_pages(pages).filter(f"url = '{HOST}900005'").collect()]
    assert len(ids) == 3 and set(ids) == {None, "a", "b"}
    edges = build_edges(parse_pages(pages)).collect()
    assert edges and all(e.src is not None and e.dst is not None for e in edges)
    assert not [e for e in edges if e.url == HOST + "900005"]
    fused = _rows(api.conjugate_cluster(pages))
    assert [r for r in fused if r[0] == HOST + "900005"] == [
        (HOST + "900005", 0, ("a", "b"), None, "cc")]
    assert _comparable(fused) == _comparable(_rows(_staged(pages)))
    text = {r.url: r.extracted_text for r in extract_from_pages(pages).collect()}
    assert text[HOST + "900005"] == "alpha middle beta"


def _staged_regions(pages):
    """The staged segmentation, on the driver: conjugate clusters
    exploded and joined to the parsed node table on (url, node_id),
    each cluster split at a 30-unit column gap, renumbered by first
    member id, and hulled over every node carrying each member id."""
    nodes = parse_pages(pages).select("url", "node_id", "x1", "y1", "x2", "y2")
    memb = (api.conjugate_cluster(pages)
            .select("url", "cluster_id", F.explode("node_ids").alias("node_id"))
            .join(nodes, ["url", "node_id"]).collect())
    boxes = defaultdict(list)
    for r in nodes.collect():
        boxes[(r.url, r.node_id)].append((r.x1, r.y1, r.x2, r.y2))
    members = defaultdict(lambda: defaultdict(list))
    for r in memb:
        members[r.url][r.cluster_id].append((r.node_id, r.x1, r.y1, r.x2, r.y2))
    rows = []
    for url, by_cluster in members.items():
        refined = []
        for cid in sorted(by_cluster):
            refined += split_cluster_columns(by_cluster[cid], 30.0)[0]
        refined.sort(key=lambda g: g[0])
        for cid, ids in enumerate(refined):
            bs = [b for nid in ids for b in boxes[(url, nid)]]
            corners = ([(x1, y1) for x1, y1, _, _ in bs] + [(x2, y1) for _, y1, x2, _ in bs]
                       + [(x2, y2) for _, _, x2, y2 in bs] + [(x1, y2) for x1, _, _, y2 in bs])
            hull = convex_hull(np.array(corners, dtype=float))
            rows.append((url, cid, "cc", len(bs), " ".join(f"{int(x)},{int(y)}" for x, y in hull)))
    return sorted(rows)


def test_segment_regions_equals_staged_composition(spark, sf_dir):
    pages = _fixture_and_planted(spark, sf_dir)
    fused = sorted(tuple(r) for r in api.segment_regions(pages).collect())
    assert _comparable(fused) == _comparable(_staged_regions(pages))
    got = _by_planted_doc(fused)
    assert got == {
        # each node brings its own box: d alone, then the heading d
        # with e, then f
        "900001": [(0, "cc", 1, "50,10 250,10 250,40 50,40"),
                   (1, "cc", 2, "50,60 250,60 250,140 50,140"),
                   (2, "cc", 1, "50,160 250,160 250,190 50,190")],
        # p2b stands 50 right of p2a: the cross-page cluster splits
        "900002": [(0, "cc", 2, "50,10 250,10 250,42 50,42"),
                   (1, "cc", 1, "300,10 500,10 500,40 300,40"),
                   (2, "cc", 1, "300,12 500,12 500,42 300,42")],
        "900005": [(0, "cc", 3, "50,10 250,10 250,140 50,140")],
        "900006": [(0, "cc", 3, "10,0 300,0 300,130 10,130"),
                   (1, "cc", 3, "340,0 600,0 600,130 340,130")],
        # left (q, s) before right (q): one q node on each side
        "900007": [(0, "cc", 2, "10,0 200,0 200,80 10,80"),
                   (1, "cc", 1, "400,0 600,0 600,30 400,30")],
    }
    # each node of a planted document lies in exactly one hull
    assert {k: sum(n for _, _, n, _ in v) for k, v in got.items()} == _node_counts(pages)
