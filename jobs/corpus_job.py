"""spark-submit entrypoint for END-TO-END training-corpus construction:
the full funnel a web-scale data pipeline runs over a crawl snapshot,
in one job.

    pages (url, warc_ts, html, ...)
      -> URL snapshot dedup          (ops/urls.url_dedup_rows: keep the
                                      latest snapshot per canonical url)
      -> main-content extraction     (pipeline/extract.extract_from_pages:
                                      fused map-only parse+extract)
      -> content dedup               (ops/dedupgraph.content_dedup:
                                      exact-copy fold -> MinHash-LSH on
                                      one representative per md5 group
                                      -> connected components; one doc
                                      kept per near-dup cluster)
      -> quality/lang annotation     (ops/textstats: all_stats in one
                                      scan + repetition_stats — optional)
      -> lineage'd corpus write      (pipeline/lineage.run_with_lineage:
                                      per-partition lineage + checksums)
      -> audit rows                  (pipeline/lineage.write_audit: every
                                      document that failed to parse, was
                                      truncated or kept no main-content
                                      node, from the extraction's cache)

Deployment shape matches jobs/extract_job.py (`spark-submit --py-files
transkribusdu_spark.zip jobs/corpus_job.py ...`); the single JSON line
on stdout carries the stage funnel (rows in/out per stage, parse
statuses), per-phase wall seconds, and the lineage verdict. The funnel
up to extraction is observed (``DataFrame.observe``) in the one action
that materializes the extraction, and ``after_content_dedup`` is
observed on the frame the lineage'd write runs, so the funnel costs no
extra scan or job. That figure counts the rows written: with
``--annotate`` it equals the survivor count only while the annotation
join gives one row per ``doc_id``. The lineage verdict's ``complete``
compares the output's distinct urls against it, so a join that
multiplied rows shows there as incomplete.
Sandbox stand-in::

    spark-submit --master local[8] --py-files dist/transkribusdu_spark.zip \
        jobs/corpus_job.py --sf-dir /root/testdata/sf0.001 --output /tmp/corpus

This job is a SNAPSHOT job, deliberately without extract_job's
--resume: content dedup is corpus-global (survivor choice depends on
every other document in the snapshot), so an incremental restart over
"pending urls only" could not reproduce the same clusters — a retry
reruns the snapshot under a fresh run id instead. extract_job remains
the resumable per-url surface.
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
    p.add_argument("--output", required=True,
                   help="output dir: extracted/ + lineage/ (+ audit/) parquet tables")
    p.add_argument("--run-id", default=None)
    p.add_argument("--input-snapshot", default=None,
                   help="snapshot id recorded on lineage rows")
    p.add_argument("--threshold", type=float, default=None,
                   help="near-dup jaccard threshold (engine default if unset)")
    p.add_argument("--no-url-dedup", action="store_true",
                   help="skip the URL snapshot dedup stage")
    p.add_argument("--no-content-dedup", action="store_true",
                   help="skip the near-dup cluster/survivor stage")
    p.add_argument("--annotate", action="store_true",
                   help="attach token/lang/quality/repetition columns")
    p.add_argument("--repartition", type=int, default=0,
                   help="hash-repartition on url before extraction")
    args = p.parse_args()

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from transkribusdu_spark.ops import dedupgraph, textstats, urls
    from transkribusdu_spark.pipeline.extract import extract_with_status, observe_status
    from transkribusdu_spark.pipeline.lineage import (
        run_with_lineage,
        straggler_stats,
        verify_lineage,
        write_audit,
    )
    from transkribusdu_spark.session import submit_session
    from transkribusdu_spark.synth import pages_from_documents

    run_id = args.run_id or f"corpus-{uuid.uuid4().hex[:12]}"
    spark = submit_session(app_name=f"corpus_job:{run_id}")
    t0 = time.monotonic()
    funnel: dict[str, int] = {}
    phases: dict[str, float] = {}
    observed: dict[str, Observation] = {}

    def count_rows(df, name):
        observed[name] = Observation(name)
        return df.observe(observed[name], F.count(F.lit(1)).alias(name))

    if args.pages:
        pages = spark.read.parquet(args.pages)
        snapshot = args.input_snapshot or args.pages
    else:
        pages = pages_from_documents(spark, args.sf_dir)
        snapshot = args.input_snapshot or f"synth:{args.sf_dir}"
    pages = count_rows(pages, "pages_in")

    if not args.no_url_dedup:
        pages = count_rows(
            urls.url_dedup_rows(pages).drop("canonical_url", "n_snapshots"),
            "after_url_dedup",
        )
    if args.repartition:
        pages = pages.repartition(args.repartition, F.col("url"))

    # The status frame feeds three consumers (the dedup pair scan, the
    # final write and the audit rows), so materialize it once — at
    # cluster scale this is the checkpoint-after-expensive-parse shape,
    # never a double parse. This one action runs url dedup and
    # extraction (extract_sec covers both) and fills every funnel
    # observation up to here.
    t = time.monotonic()
    status, observed["parse"] = observe_status(extract_with_status(pages))
    status = status.persist()
    extracted = status.filter(F.col("extracted_text").isNotNull()).drop("status")
    funnel["extracted"] = extracted.count()
    phases["extract_sec"] = round(time.monotonic() - t, 3)

    t = time.monotonic()
    if not args.no_content_dedup:
        docs = extracted.select("doc_id", F.col("extracted_text").alias("text"))
        kw = {} if args.threshold is None else {"threshold": args.threshold}
        verdicts = dedupgraph.content_dedup(docs, **kw)
        extracted = extracted.join(
            verdicts.filter("survivor").select("doc_id"), "doc_id", "left_semi"
        )
    phases["content_dedup_sec"] = round(time.monotonic() - t, 3)

    t = time.monotonic()
    if args.annotate:
        docs = extracted.select("doc_id", F.col("extracted_text").alias("text"))
        ann = (
            textstats.all_stats(docs).drop("md5_text", "md5_normalized")
            .join(textstats.repetition_stats(docs), "doc_id")
        )
        extracted = extracted.join(ann, "doc_id")
    phases["annotate_sec"] = round(time.monotonic() - t, 3)

    if not args.no_content_dedup:
        extracted = count_rows(extracted, "after_content_dedup")
    phases.update(run_with_lineage(extracted, args.output, run_id=run_id,
                                   input_snapshot=snapshot))
    for obs in observed.values():
        funnel.update(obs.get)
    phases["audit_sec"] = write_audit(status, funnel, args.output, run_id)
    wall = time.monotonic() - t0
    out_docs = funnel.get("after_content_dedup", funnel["extracted"])

    metrics = {
        "run_id": run_id,
        "input_snapshot": snapshot,
        "funnel": funnel,
        "corpus_docs": int(out_docs),
        "wall_sec": round(wall, 3),
        "phases": phases,
        "docs_per_sec": round(funnel["pages_in"] / wall, 2) if wall > 0 else 0.0,
        "stragglers": straggler_stats(spark, args.output, run_id=run_id),
        "lineage": verify_lineage(spark, args.output, expected_docs=out_docs),
        "master": spark.sparkContext.master,
    }
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
