"""Top-level API pipelines (transkribusdu_spark.api): the composed
entry points a reference user would call, driven end-to-end."""

from pyspark.sql import functions as F

from transkribusdu_spark import api
from transkribusdu_spark.synth import pages_from_documents


def test_extract_documents_byte_identical(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    ext = api.extract_documents(pages)
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
