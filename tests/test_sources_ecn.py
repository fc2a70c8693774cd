"""JSON-OCR and DS-XML sources, artifact store, ECN-style scorer."""

import json

import numpy as np
from pyspark.sql import functions as F

from transkribusdu_spark.pipeline.ecn import _forward, ecn_score, init_weights
from transkribusdu_spark.sources.artifacts import (
    config_hash,
    load_quantile_splits,
    save_quantile_splits,
)
from transkribusdu_spark.sources.ds_xml import parse_dsxml_pages
from transkribusdu_spark.sources.json_ocr import nodes_to_json_payload, parse_json_pages


def _json_pages(spark):
    doc = {
        "pages": [
            {"w": 1000.0, "h": 2000.0, "blocks": [
                {"id": "b0", "x1": 10.0, "y1": 10.0, "x2": 500.0, "y2": 60.0,
                 "text": "hello world", "label": "paragraph"},
                {"id": "b1", "x1": 10.0, "y1": 100.0, "x2": 500.0, "y2": 160.0,
                 "text": "second block", "label": "other"},
            ]},
            {"w": 1000.0, "h": 2000.0, "blocks": [
                {"id": "b2", "x1": 10.0, "y1": 10.0, "x2": 500.0, "y2": 60.0,
                 "text": "page two", "label": "paragraph"},
            ]},
        ]
    }
    return spark.createDataFrame(
        [("https://x.example.org/doc/000042", bytearray(json.dumps(doc).encode()))],
        "url string, html binary",
    )


def test_json_source_nodes(spark):
    nodes = parse_json_pages(_json_pages(spark)).collect()
    assert len(nodes) == 3
    by_id = {r.node_id: r for r in nodes}
    assert by_id["b0"].page_num == 1 and by_id["b2"].page_num == 2
    assert by_id["b0"].page_cnt == 2
    assert by_id["b0"].text == "hello world"
    assert by_id["b1"].label == "other"
    assert by_id["b0"].doc_id == 42


def test_json_source_feeds_extraction(spark):
    from transkribusdu_spark.pipeline.extract import extract_text_spans

    nodes = parse_json_pages(_json_pages(spark))
    ext = extract_text_spans(nodes).collect()[0]
    assert ext.extracted_text == "hello world page two"


def test_json_roundtrip(spark):
    nodes = parse_json_pages(_json_pages(spark))
    payload = nodes_to_json_payload(nodes).collect()[0].payload
    re_nodes = parse_json_pages(
        spark.createDataFrame(
            [("https://x.example.org/doc/000042", bytearray(payload.encode()))],
            "url string, html binary",
        )
    )
    a = sorted((r.node_id, r.text, r.x1) for r in nodes.collect())
    b = sorted((r.node_id, r.text, r.x1) for r in re_nodes.collect())
    assert a == b


def test_dsxml_source_skips_malformed_payload(spark):
    """One batch: two well-formed DS-XML docs around a truncated payload.
    The bad payload yields nothing and does not fail the batch; the
    result is exactly the nodes of the two good docs."""
    good1 = (
        '<DOC><PAGE width="800.0" height="1000.0">'
        '<BLOCK id="r1" x="10" y="20" width="300" height="40" heading="yes">'
        "<TEXT><TOKEN>Hello</TOKEN><TOKEN>world</TOKEN></TEXT></BLOCK>"
        '<BLOCK id="r2" x="10" y="80" width="300" height="40">'
        "<TEXT><TOKEN>body</TOKEN></TEXT></BLOCK>"
        "</PAGE></DOC>"
    )
    good2 = (
        '<DOC><PAGE width="500.0" height="600.0">'
        '<BLOCK id="s1" x="5" y="5" width="50" height="10" paragraph="yes">'
        "<TEXT><TOKEN>only</TOKEN></TEXT></BLOCK>"
        "</PAGE></DOC>"
    )
    pages = spark.createDataFrame(
        [
            ("https://x.example.org/doc/1", bytearray(good1.encode())),
            ("https://x.example.org/doc/2", bytearray(b"<DOC><PAGE")),
            ("https://x.example.org/doc/3", bytearray(good2.encode())),
        ],
        "url string, html binary",
    ).coalesce(1)
    got = sorted(
        (r.doc_id, r.page_num, r.node_id, r.x1, r.y1, r.x2, r.y2, r.text,
         r.reading_index, r.label)
        for r in parse_dsxml_pages(pages).collect()
    )
    assert got == [
        (1, 1, "r1", 10.0, 20.0, 310.0, 60.0, "Hello world", 0, "heading"),
        (1, 1, "r2", 10.0, 80.0, 310.0, 120.0, "body", 1, "other"),
        (3, 1, "s1", 5.0, 5.0, 55.0, 15.0, "only", 0, "paragraph"),
    ]


def test_artifact_store_roundtrip(spark, tmp_path):
    cfg = {"bins": 8, "cols": ["ef_length"]}
    splits = {"ef_length": [float("-inf"), 1.5, 7.0, float("inf")]}
    save_quantile_splits(spark, str(tmp_path), splits, cfg)
    got = load_quantile_splits(spark, str(tmp_path), cfg)
    assert got == splits
    assert load_quantile_splits(spark, str(tmp_path), {"bins": 16}) is None
    assert config_hash(cfg) == config_hash(dict(reversed(list(cfg.items()))))


def test_ecn_forward_shapes_and_determinism():
    w = init_weights(n_features=5, n_hidden=8, n_classes=3)
    nf = np.random.default_rng(1).normal(size=(10, 5))
    src = np.array([0, 1, 2]); dst = np.array([1, 2, 3]); e_cls = np.array([0, 1, 2])
    p1 = _forward(nf, src, dst, w, e_cls)
    p2 = _forward(nf, src, dst, w, e_cls)
    assert p1.shape == (10, 3)
    assert np.allclose(p1.sum(axis=1), 1.0)
    assert np.array_equal(p1, p2)


def test_ecn_score_distributed(spark, sf_dir):
    from transkribusdu_spark.pipeline.edges import build_edges
    from transkribusdu_spark.pipeline.features import NODE_FEATURE_COLS, node_features
    from transkribusdu_spark.pipeline.parse import parse_pages
    from transkribusdu_spark.synth import pages_from_documents

    pages = pages_from_documents(spark, sf_dir).limit(40)
    nodes = parse_pages(pages)
    edges = build_edges(nodes)
    nf = node_features(nodes, edges)
    w = init_weights(len(NODE_FEATURE_COLS), 16, 2)
    scored = ecn_score(nf, edges, w, NODE_FEATURE_COLS)
    out = scored.limit(200).collect()
    assert out and all(abs(sum(r.y_proba) - 1.0) < 1e-4 for r in out)
    assert scored.select("url", "node_id").distinct().count() == nf.count()
