"""spark-submit entrypoint for the extraction pipeline.

This is the north rule's launch surface: the package ships as a zip via
``--py-files`` (build it with ``tools/make_pyfiles.py``) and this script
is the application file — nothing here assumes the repo checkout exists
on the executors. Typical cluster launch at two sizes::

    spark-submit --master yarn --num-executors N  --py-files dist/transkribusdu_spark.zip jobs/extract_job.py \
        --pages s3://bucket/pages_snapshot --output s3://bucket/out --run-id run-N
    spark-submit --master yarn --num-executors 4N --py-files dist/transkribusdu_spark.zip jobs/extract_job.py ...

and the sandbox stand-in (no cluster manager here)::

    spark-submit --master local[8] --py-files dist/transkribusdu_spark.zip jobs/extract_job.py \
        --sf-dir /root/testdata/sf0.001 --output /tmp/out --run-id r1

The job is idempotent and resumable: ``--resume`` anti-joins the input
on urls already extracted under ``--output`` (exactly-once per url —
``pipeline/lineage.py``), every run appends one lineage row per output
write task (run_id, partition id, input snapshot, doc count, checksum,
and the task's executorRunTime as wall ms),
and every document whose parse failed, was truncated or kept no
main-content node lands in an ``audit`` table as (url, status, run_id).
Output, audit rows and the parse funnel all come from one persisted
pass over the pages (``extract.extract_with_status``). The single JSON
line on stdout is the job's metrics record (docs, parse funnel, wall
seconds, docs/sec, straggler skew ratio, lineage consistency).
"""

from __future__ import annotations

import argparse
import json
import time
import uuid


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet dir of the pages table "
                     "(url, warc_ts, html, text, lang)")
    src.add_argument("--sf-dir", help="testdata sf dir: synthesize the pages "
                     "table from its documents.parquet (sandbox runs)")
    p.add_argument("--output", required=True, help="output dir: extracted/ "
                   "+ lineage/ (+ audit/) parquet tables")
    p.add_argument("--run-id", default=None, help="lineage run id "
                   "(default: random)")
    p.add_argument("--input-snapshot", default=None, help="snapshot id "
                   "recorded on lineage rows (default: the input path; with "
                   "Iceberg this would be the snapshot id)")
    p.add_argument("--resume", action="store_true", help="skip urls already "
                   "extracted under --output (idempotent restart)")
    p.add_argument("--max-nodes-per-doc", type=int, default=None,
                   help="giant-document head-truncation cap "
                   "(default: engine default; truncations are audited)")
    p.add_argument("--repartition", type=int, default=0, help="hash-"
                   "repartition the input on url into N partitions before "
                   "extraction (0 = keep scan splits)")
    p.add_argument("--expected-docs", type=int, default=0, help="if set, the "
                   "metrics line reports lineage completeness against this "
                   "count")
    args = p.parse_args()

    # Imports resolve from the --py-files zip on executors; deferred past
    # argparse so `--help` works without a JVM.
    from pyspark.sql import functions as F

    from transkribusdu_spark.pipeline.extract import extract_with_status, observe_status
    from transkribusdu_spark.pipeline.parse import MAX_NODES_PER_DOC
    from transkribusdu_spark.pipeline.lineage import (
        pending_pages,
        run_with_lineage,
        straggler_stats,
        verify_lineage,
        write_audit,
    )
    from transkribusdu_spark.session import submit_session
    from transkribusdu_spark.synth import pages_from_documents

    if args.max_nodes_per_doc is not None and args.max_nodes_per_doc < 1:
        p.error("--max-nodes-per-doc must be >= 1")
    run_id = args.run_id or f"run-{uuid.uuid4().hex[:12]}"
    cap = MAX_NODES_PER_DOC if args.max_nodes_per_doc is None else args.max_nodes_per_doc
    spark = submit_session(app_name=f"extract_job:{run_id}")
    t0 = time.monotonic()

    if args.pages:
        pages = spark.read.parquet(args.pages)
        snapshot = args.input_snapshot or args.pages
    else:
        pages = pages_from_documents(spark, args.sf_dir)
        snapshot = args.input_snapshot or f"synth:{args.sf_dir}"
    if args.resume:
        pages = pending_pages(spark, pages, args.output)
    if args.repartition:
        pages = pages.repartition(args.repartition, F.col("url"))

    # One parse: the output write fills the status cache and the
    # observation; the audit rows are then read from that cache.
    status, parse_obs = observe_status(extract_with_status(pages, max_nodes_per_doc=cap))
    status = status.persist()
    extracted = status.filter(F.col("extracted_text").isNotNull()).drop("status")
    phases = run_with_lineage(extracted, args.output, run_id=run_id,
                              input_snapshot=snapshot)
    funnel = parse_obs.get
    phases["audit_sec"] = write_audit(status, funnel, args.output, run_id)
    status.unpersist()
    wall = time.monotonic() - t0

    consistency = verify_lineage(
        spark, args.output, expected_docs=args.expected_docs or -1, run_id=run_id
    )
    this_run = consistency.pop("run_docs")
    metrics = {
        "run_id": run_id,
        "input_snapshot": snapshot,
        "docs_this_run": this_run,
        "funnel": funnel,
        "wall_sec": round(wall, 3),
        "phases": phases,
        "docs_per_sec": round(this_run / wall, 2) if wall > 0 else 0.0,
        "stragglers": straggler_stats(spark, args.output, run_id=run_id),
        "lineage": consistency,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    if not args.expected_docs:
        metrics["lineage"].pop("expected", None)
        metrics["lineage"].pop("complete", None)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
