"""Map-only oracle conjugate clustering (``api.conjugate_cluster``) against
the staged composition the oracles gate, on the fixture pages plus
planted documents that exercise the staged join semantics."""

import os

from transkribusdu_spark import api
from transkribusdu_spark.pipeline.edges import build_edges
from transkribusdu_spark.pipeline.extract import extract_from_pages
from transkribusdu_spark.pipeline.features import edge_features
from transkribusdu_spark.pipeline.model import edge_oracle_scores
from transkribusdu_spark.pipeline.parse import parse_pages
from transkribusdu_spark.pipeline.segment import connected_components
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

PLANTED = {
    # id "d" is a paragraph box and a heading box: it joins e (heading)
    # and f (paragraph) through the staged endpoint cross product
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
}


def _planted(spark, docs):
    return spark.createDataFrame(
        [(HOST + k, bytearray(v)) for k, v in docs.items()], "url string, html binary")


def _staged(pages):
    nodes = parse_pages(pages)
    return connected_components(nodes, edge_oracle_scores(edge_features(build_edges(nodes), nodes)))


def _rows(df):
    return sorted((r.url, r.cluster_id, tuple(r.node_ids), r.proba, r.algo)
                  for r in df.collect())


def test_conjugate_cluster_equals_staged_oracle_composition(spark, sf_dir):
    sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    pages = pages_from_documents(spark, sf).select("url", "html").unionByName(
        _planted(spark, PLANTED))
    fused = _rows(api.conjugate_cluster(pages))
    assert fused == _rows(_staged(pages))
    planted = {}
    for url, _, ids, proba, algo in fused:
        assert proba is None and algo == "cc"
        if url.startswith(HOST):
            planted.setdefault(url[len(HOST):], []).append(list(ids))
    assert planted == {
        "900001": [["d", "e", "f"]],
        "900002": [["p1a", "p2a", "p2b"], ["p1b"]],
        "900005": [["a"], ["b"]],
    }


def test_idless_region_does_not_kill_the_job(spark, sf_dir):
    """A TextRegion without @id parses to a null node_id: every stage
    finishes, the id-less box still occludes, and it gets no edge or
    cluster."""
    normal = pages_from_documents(spark, sf_dir).select("url", "html").limit(5)
    pages = normal.unionByName(_planted(spark, {"900005": IDLESS}))
    ids = [r.node_id for r in parse_pages(pages).filter(f"url = '{HOST}900005'").collect()]
    assert len(ids) == 3 and set(ids) == {None, "a", "b"}
    edges = build_edges(parse_pages(pages)).collect()
    assert edges and all(e.src is not None and e.dst is not None for e in edges)
    assert not [e for e in edges if e.url == HOST + "900005"]
    assert _rows(api.conjugate_cluster(pages)) == _rows(_staged(pages))
    text = {r.url: r.extracted_text for r in extract_from_pages(pages).collect()}
    assert text[HOST + "900005"] == "alpha middle beta"
