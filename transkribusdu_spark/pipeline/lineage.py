"""Lineage + resumable runs (north rule: per-partition lineage rows,
resumable from snapshot checkpoints).

The reference's nearest analogue is a timestamp-freshness model cache
(``graph/GraphModel.py:156-176``) — nothing distributed. Design here:

- every run writes its output *and* a lineage table
  ``(run_id, partition_id, input_snapshot, doc_count, checksum, wall_ms)``
  with one row per task that wrote output files: ``partition_id`` is the
  write task's partition (the ``part-<n>`` of its files), ``doc_count``
  the rows in those files, ``checksum`` an order-insensitive XOR of
  per-document ``sha1(url || NUL || extracted_text)`` (stable under
  partitioning), and ``wall_ms`` Spark's ``executorRunTime`` for that
  task — the whole task, from its input through the file write. Spark
  computes every value; the lineage pass starts no Python worker.
- documents that failed to parse, were truncated or kept no text get
  ``audit`` rows (:func:`write_audit`) from the same pass as the output.
- resume = anti-join the input on urls already present in the output
  (idempotent, exactly-once per url); with Iceberg this would be a
  snapshot-id predicate — with plain parquet in this sandbox the output
  table itself is the checkpoint, which is the same contract.
"""

from __future__ import annotations

import os
import time

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import LINEAGE_SCHEMA


def _write_task_walls(sc: SparkContext, job_ids: set[int]) -> dict[int, int]:
    """``{partition id: executorRunTime ms}`` of the successful tasks in
    the result stage (a job's highest stage id) of the last of
    ``job_ids``: the stage whose tasks wrote the files. A task Spark's
    status store no longer holds (``spark.ui.retainedTasks`` /
    ``retainedJobs``) is absent."""
    try:
        # job and task ends reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JError:
        pass
    tracker = sc.statusTracker()
    job = tracker.getJobInfo(max(job_ids)) if job_ids else None
    stage = tracker.getStageInfo(max(job.stageIds)) if job else None
    if stage is None:
        return {}
    store = sc._jsc.sc().statusStore()
    walls = {}
    for attempt in range(stage.currentAttemptId + 1):
        tasks = store.taskList(stage.stageId, attempt, 2**31 - 1)
        for i in range(tasks.size()):
            task = tasks.apply(i)
            if task.status() == "SUCCESS" and task.taskMetrics().isDefined():
                walls[task.partitionId()] = task.taskMetrics().get().executorRunTime()
    return walls


def _lineage_rows(increment: DataFrame, run_id: str, input_snapshot: str,
                  walls: dict[int, int]) -> DataFrame:
    """One lineage row per write task of ``increment`` (a parquet read of
    one run's output), grouped by the ``part-<n>`` of its file names.
    The checksum XORs the first 8 bytes of each document's sha1 as two
    32-bit halves, so it stays in ``long`` arithmetic."""
    sig = F.sha1(F.concat_ws("\x00", F.coalesce("url", F.lit("")),
                             F.coalesce("extracted_text", F.lit(""))))
    part = F.regexp_extract("_metadata.file_name", r"^part-(\d+)", 1).cast("int")
    wall = F.create_map(*[F.lit(v) for kv in walls.items() for v in kv])
    return (
        increment.groupBy(part.alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("doc_count"),
             *[F.bit_xor(F.conv(F.substring(sig, i, 8), 16, 10).cast("long")).alias(f"h{i}")
               for i in (1, 9)])
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            F.lit(input_snapshot).alias("input_snapshot"),
            "doc_count",
            F.format_string("%08x%08x", "h1", "h9").alias("checksum"),
            F.coalesce(F.element_at(wall, F.col("partition_id")), F.lit(0)).alias("wall_ms"),
        )
        .select(*[F.col(f.name).cast(f.dataType) for f in LINEAGE_SCHEMA])
    )


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
    document is counted by exactly one run_id). Each write task's
    ``wall_ms`` is read from Spark's status store for the jobs the
    write started (the current job group's new job ids).

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
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    t0 = time.monotonic()
    extracted.withColumn("run_id", F.lit(run_id)).write.mode("append").parquet(ext_path)
    t1 = time.monotonic()
    walls = _write_task_walls(sc, set(sc.statusTracker().getJobIdsForGroup(group)) - before)
    increment = (
        spark.read.parquet(ext_path).filter(F.col("run_id") == run_id).drop("run_id")
    )
    _lineage_rows(increment, run_id, input_snapshot, walls).write.mode("append").parquet(lin_path)
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
    """Skew check (BASELINE.md): no task should take > 4x the median task
    time. Uses the ``wall_ms`` the lineage rows already record — Spark's
    ``executorRunTime`` of each output write task, i.e. of the run's
    last stage (for ``jobs/corpus_job.py`` the post-dedup write stage) —
    so it costs zero extra instrumentation; rows whose task Spark no
    longer held (``wall_ms`` 0) are skipped. Pass ``run_id`` to scope
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


def verify_lineage(spark: SparkSession, out_dir: str, expected_docs: int,
                   run_id: str | None = None) -> dict:
    """Consistency check: lineage doc counts must cover the output table.
    With ``run_id``, ``run_docs`` is that run's doc count (same scan)."""
    lin = spark.read.parquet(os.path.join(out_dir, "lineage"))
    ext = spark.read.parquet(os.path.join(out_dir, "extracted"))
    sums = [F.sum("doc_count")]
    if run_id is not None:
        sums.append(F.sum(F.when(F.col("run_id") == run_id, F.col("doc_count"))))
    n_lineage, *n_run = lin.agg(*sums).first()
    # One scan for both counts; the struct makes a NULL url count as one
    # distinct value, as ``select("url").distinct()`` does.
    n_out, n_urls = ext.agg(F.count(F.lit(1)), F.count_distinct(F.struct("url"))).first()
    out = {
        "lineage_docs": int(n_lineage or 0),
        "output_rows": int(n_out),
        "distinct_urls": int(n_urls),
        "expected": expected_docs,
        "complete": n_urls == expected_docs,
    }
    if n_run:
        out["run_docs"] = int(n_run[0] or 0)
    return out
