"""Top-level API pipelines (transkribusdu_spark.api): the composed
entry points a reference user would call, driven end-to-end."""

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F
from test_conjugate_fused import HOST, _doc, _planted, _region

import tools.make_truth as mt
from transkribusdu_spark import api
from transkribusdu_spark.pipeline.extract import extract_from_pages
from transkribusdu_spark.synth import pages_from_documents


def test_extract_documents_byte_identical(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    ext = extract_from_pages(pages)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cmp = ext.join(docs, "doc_id")
    n = cmp.count()
    ok = cmp.filter(F.col("extracted_text") == F.col("text")).count()
    assert ok == n and n > 0


def test_extract_documents_deterministic_runs_twice_identically(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    a = sorted(
        (r.doc_id, r.extracted_text)
        for r in api.extract_documents_deterministic(pages).collect()
    )
    b = sorted(
        (r.doc_id, r.extracted_text)
        for r in api.extract_documents_deterministic(pages).collect()
    )
    assert a == b and len(a) > 0


LONG = "the quick brown fox jumps over the lazy dog and runs far away"


def test_extract_documents_deterministic_one_span_per_region(spark, sf_dir):
    """Two regions sharing @id "d" and one region without @id: each
    region is its own span, once, in reading (y) order, with the
    single-space running-sum offsets."""
    texts = ["first " + LONG, "second " + LONG, "third " + LONG]
    doc = _doc([_region("d", 50, 300, "paragraph", texts[2], w=500, h=80),
                _region(None, 50, 200, "paragraph", texts[1], w=500, h=80),
                _region("d", 50, 100, "paragraph", texts[0], w=500, h=80)])
    pages = pages_from_documents(spark, sf_dir).select("url", "html").unionByName(
        _planted(spark, {"990001": doc}))
    (row,) = api.extract_documents_deterministic(pages).filter(F.col("doc_id") == 990001).collect()
    assert row.extracted_text == " ".join(texts)
    assert [s.node_id for s in row.spans] == ["d", None, "d"]
    off = 0
    for s, t in zip(row.spans, texts):
        assert (s.start, s.end, s.label) == (off, off + len(t), "main")
        off += len(t) + 1


def _planted_corpus():
    """Planted documents as (url -> PageXML, url -> region dicts), the
    region dicts in the form tools/make_truth.py reads. Main-content text
    is non-ASCII, and doc 990012 has two boxes at the same position whose
    order only node_id decides."""
    spec = {
        "990011": [("h1", 50, 10, "header", "menu home about", 500, 30),
                   ("b1", 50, 60, "paragraph", "café ñandú 日本語 x " + LONG, 500, 90),
                   ("b2", 50, 160, "paragraph", "ünïcödé " + LONG, 500, 90),
                   ("f1", 50, 700, "other", "copyright terms", 500, 30)],
        "990012": [("t2", 50, 60, "heading", "日本語 heading " + LONG, 500, 90),
                   ("t1", 50, 60, "paragraph", "ñ " + LONG, 500, 90),
                   ("b1", 50, 160, "paragraph", "naïve façade " + LONG, 500, 120),
                   ("f1", 50, 700, "other", "privacy sitemap", 500, 30)],
        "990013": [("h1", 50, 10, "header", "nav", 500, 30),
                   ("f1", 50, 700, "other", "terms", 500, 30)],
    }
    xml, regions = {}, {}
    for k, rs in spec.items():
        xml[k] = _doc([_region(rid, x, y, lab, t, w=w, h=h) for rid, x, y, lab, t, w, h in rs])
        regions[HOST + k] = [dict(node_id=rid, page_num=1, x1=x, y1=y, x2=x + w, y2=y + h,
                                  label=lab, text=t) for rid, x, y, lab, t, w, h in rs]
    return xml, regions


def test_extract_documents_deterministic_matches_reference(spark):
    """The api's (doc_id, code-point length) rows equal the single-node
    reference that the extract_predicted_smoothed oracle is built from."""
    xml, regions = _planted_corpus()
    rows = api.extract_documents_deterministic(_planted(spark, xml)).select(
        "doc_id", F.length("extracted_text").alias("n"), "spans").collect()
    want = sorted((r["doc_id"], r["n_chars_extracted"]) for r in mt.pred_smoothed_truth(
        regions, {u: int(u.rsplit("/", 1)[1]) for u in regions}))
    assert sorted((r.doc_id, r.n) for r in rows) == want and len(want) > 0
    order = {r.doc_id: [s.node_id for s in r.spans] for r in rows}
    assert order[990012][:2] == ["t1", "t2"]


def test_extract_documents_deterministic_single_class_raises(spark):
    xml = {"990021": _doc([_region("a", 50, 10, "paragraph", "only main"),
                           _region("b", 50, 60, "heading", "still main")])}
    with pytest.raises(ValueError, match="both classes"):
        api.extract_documents_deterministic(_planted(spark, xml))


def test_segment_regions_full_surface(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir).limit(30)
    hulls = api.segment_regions(pages).collect()
    assert len(hulls) > 0
    for r in hulls:
        assert r.n_nodes >= 1
        pts = r.hull_points.split(" ")
        assert all("," in p for p in pts)
        # hull of >= 2 distinct boxes has >= 3 vertices
        if r.n_nodes >= 2:
            assert len(pts) >= 2


def test_api_import_leaves_pyspark_ml_out():
    """A job that imports the api and never trains pays no ``pyspark.ml``
    import (about 0.5 s on a spark-submit driver, where it compiles from
    Spark's source-only zip): the spark.ml functions import it themselves."""
    code = ("import sys, transkribusdu_spark.api; "
            "print(sorted(m for m in sys.modules if m.split('.')[:2] == ['pyspark', 'ml']))")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo, capture_output=True,
                         text=True, check=True)
    assert out.stdout.strip() == "[]"
