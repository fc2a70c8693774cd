"""Lineage + resumable runs (north rule: per-partition lineage rows,
resumable from snapshot checkpoints).

The reference's nearest analogue is a timestamp-freshness model cache
(``graph/GraphModel.py:156-176``) — nothing distributed. Design here:

- every run writes its output *and* a lineage table
  ``(run_id, partition_id, input_snapshot, doc_count, checksum, wall_ms)``;
  the checksum is an order-insensitive XOR of per-document
  ``sha1(url || extracted_text)`` so it is stable under partitioning.
- documents that failed to parse, were truncated or kept no text get
  ``audit`` rows (:func:`write_audit`) from the same pass as the output.
- resume = anti-join the input on urls already present in the output
  (idempotent, exactly-once per url); with Iceberg this would be a
  snapshot-id predicate — with plain parquet in this sandbox the output
  table itself is the checkpoint, which is the same contract.
"""

from __future__ import annotations

import hashlib
import os
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import LINEAGE_SCHEMA


def _doc_sig(url: str, text: str) -> int:
    h = hashlib.sha1((url + "\x00" + (text or "")).encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big")


def with_lineage(extracted: DataFrame, run_id: str, input_snapshot: str) -> DataFrame:
    """Wrap an extracted DataFrame so each partition also yields a lineage
    row. Returns the lineage DataFrame (the extracted side is written by
    the caller); map-only, no extra shuffle."""
    cols = extracted.select("url", "extracted_text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.monotonic()
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        n = 0
        acc = 0
        for pdf in batches:
            n += len(pdf)
            for u, t in zip(pdf["url"], pdf["extracted_text"]):
                acc ^= _doc_sig(u, t)
        wall_ms = int((time.monotonic() - t0) * 1000)
        yield pd.DataFrame(
            [
                dict(run_id=run_id, partition_id=pid, input_snapshot=input_snapshot,
                     doc_count=n, checksum=f"{acc:016x}", wall_ms=wall_ms)
            ]
        )

    return cols.mapInPandas(run, schema=LINEAGE_SCHEMA)


def run_with_lineage(
    extracted: DataFrame,
    out_dir: str,
    run_id: str,
    input_snapshot: str = "parquet",
) -> dict:
    """Write extracted output + lineage rows under ``out_dir``.

    The output rows carry this run's id, and lineage is computed by
    re-reading ONLY this run's increment from disk — so (a) checksums
    cover the bytes that actually landed, and (b) resumed runs never
    double-count earlier runs' documents in the lineage table (each
    document is counted by exactly one run_id).

    Returns per-phase wall seconds (extract+write / checksum pass) so
    jobs can report where a run's time went.

    ``run_id`` must be fresh per attempt: the lineage increment is
    identified by run_id on disk, so re-running a completed run_id would
    double-count its documents in the lineage table. That is refused
    loudly here — a scheduler retry should resume under a NEW run_id
    (``pending_pages`` makes the retry skip finished urls)."""
    ext_path = os.path.join(out_dir, "extracted")
    lin_path = os.path.join(out_dir, "lineage")
    spark = extracted.sparkSession
    try:
        seen = spark.read.parquet(lin_path).filter(F.col("run_id") == run_id).count()
    except Exception:
        seen = 0
    if seen:
        raise ValueError(
            f"run_id {run_id!r} already has {seen} lineage row(s) under "
            f"{out_dir} — re-running it would double-count its documents; "
            f"resume under a fresh run_id instead"
        )
    t0 = time.monotonic()
    extracted.withColumn("run_id", F.lit(run_id)).write.mode("append").parquet(ext_path)
    t1 = time.monotonic()
    increment = (
        extracted.sparkSession.read.parquet(ext_path)
        .filter(F.col("run_id") == run_id)
        .drop("run_id")
    )
    lin = with_lineage(increment, run_id, input_snapshot)
    lin.write.mode("append").parquet(lin_path)
    return {
        "extract_write_sec": round(t1 - t0, 3),
        "lineage_sec": round(time.monotonic() - t1, 3),
    }


def write_audit(status: DataFrame, funnel: dict, out_dir: str, run_id: str) -> float:
    """Append this run's documents whose status is not ``ok`` — parse
    errors, truncations ("this url's output is the HEAD of the document,
    not all of it") and empty extractions — as ``(url, status, run_id)``
    rows to the ``audit`` table beside the lineage.

    ``status`` is the caller's persisted ``extract.extract_with_status``
    frame and ``funnel`` its ``extract.observe_status`` counts, both
    filled by the action that wrote the output: the rows come from that
    cache, never from a second parse, and a run whose documents are all
    ``ok`` writes nothing (an empty write still costs a Spark job).
    Returns the wall seconds spent."""
    t0 = time.monotonic()
    if funnel["parse_error"] + funnel["truncated"] + funnel["empty"]:
        (
            status.filter(F.col("status") != "ok")
            .select("url", "status", F.lit(run_id).alias("run_id"))
            .write.mode("append").parquet(os.path.join(out_dir, "audit"))
        )
    return round(time.monotonic() - t0, 3)


def pending_pages(spark: SparkSession, pages: DataFrame, out_dir: str) -> DataFrame:
    """Resume support: the subset of ``pages`` whose url has no output row
    yet. Left-anti join — broadcast when the done-set is small, shuffle
    hash otherwise (Catalyst/AQE decides)."""
    out_path = os.path.join(out_dir, "extracted")
    try:
        done = spark.read.parquet(out_path).select("url").distinct()
    except Exception:
        return pages
    return pages.join(done, "url", "left_anti")


def straggler_stats(spark: SparkSession, out_dir: str,
                    run_id: str | None = None) -> dict:
    """Skew check (BASELINE.md): no partition should take > 4x the median
    partition wall time. Uses the per-partition wall_ms the lineage rows
    already record — zero extra instrumentation. Pass ``run_id`` to scope
    the stats to one run; the default mixes every run in ``out_dir``,
    which is meaningless after a resume at a different parallelism."""
    lin = spark.read.parquet(os.path.join(out_dir, "lineage"))
    if run_id is not None:
        lin = lin.filter(F.col("run_id") == run_id)
    rows = [r.wall_ms for r in lin.select("wall_ms").collect() if r.wall_ms > 0]
    if not rows:
        return {"partitions": 0, "median_ms": 0, "max_ms": 0, "ratio": 0.0}
    rows.sort()
    median = rows[len(rows) // 2]
    return {
        "partitions": len(rows),
        "median_ms": int(median),
        "max_ms": int(rows[-1]),
        "ratio": round(rows[-1] / max(median, 1), 3),
    }


def verify_lineage(spark: SparkSession, out_dir: str, expected_docs: int) -> dict:
    """Consistency check: lineage doc counts must cover the output table."""
    lin = spark.read.parquet(os.path.join(out_dir, "lineage"))
    ext = spark.read.parquet(os.path.join(out_dir, "extracted"))
    n_lineage = lin.agg(F.sum("doc_count")).collect()[0][0] or 0
    # One scan for both counts; the struct makes a NULL url count as one
    # distinct value, as ``select("url").distinct()`` does.
    n_out, n_urls = ext.agg(F.count(F.lit(1)), F.count_distinct(F.struct("url"))).first()
    return {
        "lineage_docs": int(n_lineage),
        "output_rows": int(n_out),
        "distinct_urls": int(n_urls),
        "expected": expected_docs,
        "complete": n_urls == expected_docs,
    }
