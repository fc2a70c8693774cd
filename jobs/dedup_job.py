"""spark-submit entrypoint for the dedup pipeline.

Same deployment shape as jobs/extract_job.py (`spark-submit --py-files
transkribusdu_spark.zip jobs/dedup_job.py ...`): package from the zip,
submit-time conf wins, one JSON metrics line on stdout. Runs one of the
engine's dedup operators over a documents table `(doc_id, text)` and
writes the result parquet::

    spark-submit --master local[8] --py-files dist/transkribusdu_spark.zip \
        jobs/dedup_job.py --sf-dir /root/testdata/sf0.001 \
        --op minhash --output /tmp/dups

Ops: `exact` (one survivor per md5 group), `minhash` (MinHash-LSH
candidates verified with exact Jaccard), `simhash` (Hamming <= k
near-pairs), `ngram` (exact word-n-gram Jaccard pairs), `cluster`
(exact-copy fold, minhash pairs over one representative per md5
group -> distributed connected components -> per-doc
(component, survivor) verdicts for the WHOLE corpus), `clean` (same,
but writes the surviving documents (doc_id, text) — the deduplicated
corpus a training pipeline consumes downstream).
"""

from __future__ import annotations

import argparse
import json
import time
import uuid


def write_op(docs, op: str, output: str, threshold: float | None = None,
             max_hamming: int = 8) -> None:
    """Run dedup operator ``op`` over ``docs`` (doc_id, text) and write its
    result parquet to ``output``. Whatever the operator caches for its
    own plan is released once the write has run."""
    from transkribusdu_spark.ops import dedup, dedupgraph

    thr = dedup.JACCARD_THRESHOLD if threshold is None else threshold
    cached = ()
    if op == "exact":
        result = dedup.exact_dedup(docs)
    elif op == "minhash":
        result, cached = dedup._minhash_lsh(docs, thr)
    elif op == "simhash":
        result = dedup.simhash_near_pairs(docs, max_hamming=max_hamming)
    elif op in ("cluster", "clean"):
        result = dedupgraph.content_dedup(docs, thr)
        if op == "clean":
            result = docs.join(
                result.filter("survivor").select("doc_id"), "doc_id", "left_semi"
            )
    else:
        result = dedup.ngram_jaccard_pairs(docs, thr)
    try:
        result.write.mode("overwrite").parquet(output)
    finally:
        for df in cached:
            df.unpersist()


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--documents", help="parquet dir with (doc_id, text)")
    src.add_argument("--sf-dir", help="testdata sf dir: use its documents.parquet")
    p.add_argument("--op",
                   choices=("exact", "minhash", "simhash", "ngram",
                            "cluster", "clean"),
                   default="minhash")
    p.add_argument("--output", required=True, help="result parquet dir")
    p.add_argument("--run-id", default=None)
    p.add_argument("--threshold", type=float, default=None,
                   help="jaccard threshold (minhash/ngram ops)")
    p.add_argument("--max-hamming", type=int, default=8, help="simhash op")
    args = p.parse_args()

    from transkribusdu_spark.session import submit_session

    run_id = args.run_id or f"dedup-{uuid.uuid4().hex[:12]}"
    spark = submit_session(app_name=f"dedup_job:{run_id}")
    t0 = time.monotonic()

    path = args.documents or f"{args.sf_dir}/documents.parquet"
    docs = spark.read.parquet(path).select("doc_id", "text")
    write_op(docs, args.op, args.output, args.threshold, args.max_hamming)
    wall = time.monotonic() - t0
    n_docs = docs.count()
    n_rows = spark.read.parquet(args.output).count()
    print(json.dumps({
        "run_id": run_id,
        "op": args.op,
        "input_docs": int(n_docs),
        "result_rows": int(n_rows),
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 2) if wall > 0 else 0.0,
        "master": spark.sparkContext.master,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
