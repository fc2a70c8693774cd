"""Resumability (kill-and-rerun) + incremental streaming extraction."""

import hashlib
import os
import re

import pytest
from pyspark.sql import functions as F

from transkribusdu_spark.pipeline import lineage
from transkribusdu_spark.pipeline.extract import extract_from_pages, extract_text_spans
from transkribusdu_spark.pipeline.lineage import (
    pending_pages,
    run_with_lineage,
    verify_lineage,
)
from transkribusdu_spark.schemas import LINEAGE_SCHEMA
from transkribusdu_spark.pipeline.parse import parse_pages
from transkribusdu_spark.streaming.incremental import stream_extract, windowed_event_counts
from transkribusdu_spark.synth import pages_from_documents


def test_kill_and_rerun_resumes(spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "out")
    pages = pages_from_documents(spark, sf_dir).cache()
    total = pages.count()

    # "Killed" first run: only half the documents got written.
    half = pages.filter(
        (F.regexp_extract("url", r"(\d+)$", 1).cast("long") % 2) == 0
    )
    run_with_lineage(extract_text_spans(parse_pages(half)), out_dir, run_id="r1")

    # Resume: only the missing half is pending.
    todo = pending_pages(spark, pages, out_dir)
    n_todo = todo.count()
    assert n_todo == total - half.count()

    run_with_lineage(extract_text_spans(parse_pages(todo)), out_dir, run_id="r2")
    status = verify_lineage(spark, out_dir, expected_docs=total)
    assert status["complete"], status
    assert status["distinct_urls"] == total
    # regression: multi-run lineage must count each document exactly once
    # (previously the second run re-counted the first run's output)
    assert status["lineage_docs"] == status["output_rows"] == total, status
    # rerun again: nothing pending (idempotent)
    assert pending_pages(spark, pages, out_dir).count() == 0


def test_lineage_rows_written(spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "out2")
    pages = pages_from_documents(spark, sf_dir)
    run_with_lineage(extract_text_spans(parse_pages(pages)), out_dir, run_id="runA")
    lin = spark.read.parquet(os.path.join(out_dir, "lineage"))
    rows = lin.collect()
    assert all(r.run_id == "runA" for r in rows)
    assert sum(r.doc_count for r in rows) == pages.count()
    assert all(len(r.checksum) == 16 for r in rows)


def _doc_sig(url, text) -> int:
    """Reference checksum term: the first 8 bytes of sha1(url NUL text),
    a NULL url or text hashed as the empty string."""
    h = hashlib.sha1(((url or "") + "\x00" + (text or "")).encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big")


def _reference_rows(spark, out_dir, run_id) -> dict:
    """{part number: (doc_count, checksum)} of one run's output files,
    counted and XOR-ed in Python."""
    acc = {}
    for r in (spark.read.parquet(os.path.join(out_dir, "extracted"))
              .filter(F.col("run_id") == run_id)
              .select("url", "extracted_text", F.col("_metadata.file_name").alias("f"))
              .collect()):
        part = int(re.match(r"part-(\d+)", r.f).group(1))
        n, x = acc.get(part, (0, 0))
        acc[part] = (n + 1, x ^ _doc_sig(r.url, r.extracted_text))
    return {p: (n, f"{x:016x}") for p, (n, x) in acc.items()}


@pytest.mark.parametrize("n_parts", [0, 4])
def test_lineage_rows_are_write_tasks(spark, sf_dir, tmp_path, n_parts):
    """One lineage row per output write task on sf0.01: its count and
    checksum equal the Python reference over that task's files, its
    partition_id is the part- number of those files and its wall_ms is
    the task's (non-zero) executorRunTime."""
    out_dir = str(tmp_path / f"out_w{n_parts}")
    pages = pages_from_documents(spark, os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01"))
    if n_parts:
        pages = pages.repartition(n_parts, "url")
    run_with_lineage(extract_from_pages(pages), out_dir, run_id="w")
    lin = spark.read.parquet(os.path.join(out_dir, "lineage"))
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA]
    rows = lin.collect()
    assert {r.partition_id: (r.doc_count, r.checksum) for r in rows} == _reference_rows(
        spark, out_dir, "w")
    parts = {int(m.group(1)) for f in os.listdir(os.path.join(out_dir, "extracted"))
             if (m := re.match(r"part-(\d+)", f))}
    assert {r.partition_id for r in rows} == parts
    assert all(r.wall_ms > 0 for r in rows), rows
    assert sum(r.doc_count for r in rows) == 500
    if n_parts:
        assert len(rows) == n_parts


def test_lineage_counts_and_hashes_null_url_and_text(spark, tmp_path):
    """A NULL url and a NULL extracted_text are counted and hashed (as
    empty strings), not an error after the output was appended."""
    out_dir = str(tmp_path / "out_nulls")
    ext = spark.createDataFrame(
        [(None, "a"), ("u1", None), ("u2", "b")], "url string, extracted_text string")
    run_with_lineage(ext, out_dir, run_id="n")
    rows = spark.read.parquet(os.path.join(out_dir, "lineage")).collect()
    assert sum(r.doc_count for r in rows) == 3
    assert {r.partition_id: (r.doc_count, r.checksum) for r in rows} == _reference_rows(
        spark, out_dir, "n")


def test_lineage_plan_has_no_python(spark, tmp_path):
    """The lineage rows are computed in the JVM: no Python worker."""
    path = str(tmp_path / "ext")
    spark.createDataFrame([("u", "t")], "url string, extracted_text string").coalesce(1).write.parquet(path)
    rows = lineage._lineage_rows(spark.read.parquet(path), "r", "s", {0: 7})
    plan = rows._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert [tuple(r)[3:] for r in rows.collect()] == [(1, f"{_doc_sig('u', 't'):016x}", 7)]


def test_stream_extract_available_now(spark, sf_dir, tmp_path):
    pages_dir = str(tmp_path / "pages_stream")
    out_dir = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_from_documents(spark, sf_dir).limit(50)
    pages.write.mode("overwrite").parquet(pages_dir)

    q = stream_extract(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 50
    # Rerun with no new files: checkpoint means nothing is reprocessed.
    q2 = stream_extract(spark, pages_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 50


def test_windowed_event_counts_batch(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev)
    total = out.agg(F.sum("n")).collect()[0][0]
    assert total == ev.count()


def test_stateful_stream_counter_carries_state_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState: per-user running totals must accumulate
    across micro-batches (maxFilesPerTrigger=1 forces several), and the
    final totals must equal the batch groupBy counts."""
    import glob

    from transkribusdu_spark.streaming.incremental import stream_user_event_totals

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000).cache()
    ev_dir = str(tmp_path / "ev_stream")
    # three files -> three micro-batches
    events.repartition(3).write.mode("overwrite").parquet(ev_dir)
    out_dir = str(tmp_path / "totals_out")
    ckpt = str(tmp_path / "totals_ckpt")
    q = stream_user_event_totals(spark, ev_dir, out_dir, ckpt)
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    n_batches = got.select("batch_id").distinct().count()
    assert n_batches >= 2, "expected multiple micro-batches (state carry-over)"
    from pyspark.sql import Window
    import pyspark.sql.functions as SF

    w = Window.partitionBy("user_id").orderBy(SF.desc("batch_id"))
    final = (
        got.withColumn("rn", SF.row_number().over(w))
        .filter(SF.col("rn") == 1)
        .select("user_id", "total_events")
    )
    expected = events.groupBy("user_id").agg(SF.count("*").alias("n"))
    diff = final.join(expected, "user_id").filter(SF.col("total_events") != SF.col("n"))
    assert final.count() == expected.count()
    assert diff.count() == 0, diff.limit(5).collect()


def test_user_sessions_gap_semantics(spark):
    import datetime as dt

    rows = [
        (1, 1, dt.datetime(2024, 1, 1, 0, 0), "a", 1.0),
        (1, 2, dt.datetime(2024, 1, 1, 0, 10), "a", 1.0),
        (1, 3, dt.datetime(2024, 1, 1, 1, 0), "a", 1.0),   # 50min gap -> new session
        (2, 4, dt.datetime(2024, 1, 1, 0, 0), "a", 1.0),
    ]
    from transkribusdu_spark.streaming.incremental import user_sessions

    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double"
    )
    got = {(r.user_id, r.session_id): r.n_events for r in user_sessions(ev).collect()}
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_stream_dedup_urls_cross_batch(spark, sf_dir, tmp_path):
    """Streaming first-wins url dedup: a second batch of files carrying
    tracking-variant urls of batch-1 pages (inside the watermark) must
    be suppressed by checkpointed state; genuinely new urls pass."""
    from pyspark.sql import functions as F

    from transkribusdu_spark.streaming.incremental import stream_dedup_urls

    pages_dir = str(tmp_path / "pages_dd")
    out_dir = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    pages = pages_from_documents(spark, sf_dir).limit(40).cache()

    pages.limit(30).write.mode("overwrite").parquet(pages_dir)
    q = stream_dedup_urls(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 30

    # batch 2: 10 new urls + 30 tracking-variant dupes of batch 1,
    # stamped slightly later but within the 24h watermark
    variants = pages.limit(30).withColumn(
        "url", F.concat("url", F.lit("?utm_source=refetch"))
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 1 hour"))
    pages.subtract(pages.limit(30)).unionByName(variants).write.mode(
        "append"
    ).parquet(pages_dir)
    q2 = stream_dedup_urls(spark, pages_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    assert out.count() == 40  # 30 + 10 new; all 30 variants suppressed
    assert out.filter(F.col("url").contains("utm_source=refetch")).count() == 0
    assert out.select("canonical_url").distinct().count() == 40


def test_verify_lineage_counts_in_one_pass(spark, tmp_path):
    """The one-aggregate counts equal the two separate scans: a repeated
    url counts once and a NULL url as one value."""
    out_dir = str(tmp_path / "out3")
    spark.createDataFrame(
        [("u1", "a"), ("u1", "b"), (None, "c"), ("u2", "d")],
        "url string, extracted_text string",
    ).write.parquet(os.path.join(out_dir, "extracted"))
    spark.createDataFrame([(4,)], "doc_count long").write.parquet(
        os.path.join(out_dir, "lineage"))
    ext = spark.read.parquet(os.path.join(out_dir, "extracted"))
    got = verify_lineage(spark, out_dir, expected_docs=3)
    assert got == {
        "lineage_docs": 4,
        "output_rows": ext.count(),
        "distinct_urls": ext.select("url").distinct().count(),
        "expected": 3,
        "complete": True,
    }
    assert got["distinct_urls"] == 3


def test_verify_lineage_run_docs_from_the_same_aggregate(spark, tmp_path):
    """``run_id`` adds that run's doc count, summed next to the total;
    a run with no lineage rows counts 0."""
    out_dir = str(tmp_path / "out4")
    spark.createDataFrame([("u1", "a")], "url string, extracted_text string").write.parquet(
        os.path.join(out_dir, "extracted"))
    spark.createDataFrame([("a", 3), ("b", 2), ("a", 1)], "run_id string, doc_count long").write.parquet(
        os.path.join(out_dir, "lineage"))
    assert "run_docs" not in verify_lineage(spark, out_dir, expected_docs=1)
    got = verify_lineage(spark, out_dir, expected_docs=1, run_id="a")
    assert (got["lineage_docs"], got["run_docs"]) == (6, 4)
    assert verify_lineage(spark, out_dir, expected_docs=1, run_id="c")["run_docs"] == 0
