"""Giant-document overflow guard (SURVEY §7 risk: one pathological doc
with O(100k) nodes turns the per-doc O(n^2)-family stages — LOS sweep
candidates, dual graph — into a straggler/OOM).

Contract: parse truncates past ``max_nodes_per_doc`` keeping the HEAD
in document order, the truncation is the document's status in the
production pass (``truncated:<n>`` in extract_with_status) and
write_audit records it in an ``audit`` table beside the lineage — never
silent, never a crash."""

import os

import pytest
from pyspark.sql import functions as F


def _giant_doc_html(n_nodes: int) -> bytes:
    """One flat PageXML-ish page with n_nodes tiny regions in a grid."""
    parts = [b"<PcGts><Page imageWidth=\"1240\" imageHeight=\"3000\">"]
    for i in range(n_nodes):
        x = 10 + (i % 100) * 12
        y = 10 + (i // 100) * 6
        parts.append(
            (
                f'<TextRegion id="r{i:06d}">'
                f'<Coords points="{x},{y} {x+10},{y} {x+10},{y+4} {x},{y+4}"/>'
                f"<TextLine><TextEquiv><Unicode>w{i}</Unicode></TextEquiv></TextLine>"
                f"</TextRegion>"
            ).encode()
        )
    parts.append(b"</Page></PcGts>")
    return b"".join(parts)


@pytest.fixture(scope="module")
def giant_pages(spark):
    html = _giant_doc_html(50_000)
    small = _giant_doc_html(50)
    return spark.createDataFrame(
        [("https://host000.example.org/doc/000001", bytearray(html)),
         ("https://host000.example.org/doc/000002", bytearray(small))],
        "url string, html binary",
    )


def test_giant_doc_truncated_not_oom(spark, giant_pages):
    from transkribusdu_spark.pipeline.edges import build_edges
    from transkribusdu_spark.pipeline.extract import extract_with_status
    from transkribusdu_spark.pipeline.parse import MAX_NODES_PER_DOC, parse_pages

    cap = MAX_NODES_PER_DOC
    nodes = parse_pages(giant_pages)
    counts = {r["url"]: r["n"] for r in
              nodes.groupBy("url").agg(F.count("*").alias("n")).collect()}
    assert counts["https://host000.example.org/doc/000001"] == cap
    assert counts["https://host000.example.org/doc/000002"] == 50
    # head-of-document truncation: the kept nodes are the FIRST cap ids
    kept = [r["node_id"] for r in nodes.filter(
        F.col("url").endswith("000001")).select("node_id").collect()]
    assert sorted(kept) == [f"r{i:06d}" for i in range(cap)]
    # downstream per-doc stage completes on the truncated graph
    n_edges = build_edges(nodes).count()
    assert n_edges > 0
    # the guard is auditable, and the small doc is NOT flagged
    status = {r["url"]: r["status"] for r in extract_with_status(
        giant_pages, labels=None, max_nodes_per_doc=cap).select("url", "status").collect()}
    assert status == {"https://host000.example.org/doc/000001": "truncated:50000",
                      "https://host000.example.org/doc/000002": "ok"}


def test_overflow_recorded_in_lineage(spark, giant_pages, tmp_path):
    from transkribusdu_spark.pipeline.extract import extract_with_status, observe_status
    from transkribusdu_spark.pipeline.lineage import run_with_lineage, write_audit

    cap = 2_000
    # Observe in a child session: on Spark 4.1 a session that has run an
    # Observation holds a non-serializable ObservationManager, and later
    # ML tuning tests serialize the shared session.
    pages = spark.newSession().createDataFrame(giant_pages.collect(), giant_pages.schema)
    status, obs = observe_status(
        extract_with_status(pages, labels=None, max_nodes_per_doc=cap))
    status = status.persist()
    ext = status.filter(F.col("extracted_text").isNotNull()).drop("status")
    out = str(tmp_path / "run")
    run_with_lineage(ext, out, run_id="r1")
    funnel = obs.get  # filled by the output write
    assert funnel == {"parse_ok": 1, "parse_error": 0, "truncated": 1, "empty": 0}
    write_audit(status, funnel, out, run_id="r1")
    status.unpersist()
    audit = spark.read.parquet(os.path.join(out, "audit")).collect()
    assert [tuple(r) for r in audit] == [
        ("https://host000.example.org/doc/000001", "truncated:50000", "r1")]
    # the truncated doc's output is its head: the first cap regions
    head = spark.read.parquet(os.path.join(out, "extracted")).filter(
        F.col("url").endswith("000001")).collect()[0]["extracted_text"]
    assert head == " ".join(f"w{i}" for i in range(cap))
    # the small doc has no audit row, and lineage counts cover both docs
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == 2
