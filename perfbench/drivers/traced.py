"""Traced driver: one workload's layers called one by one, each in a span.

    spark-submit ... --conf spark.eventLog.enabled=true --conf spark.eventLog.dir=<dir> \
        --py-files <zip> perfbench/drivers/traced.py \
        --workload segment --pages <dir> --output <dir> --run-id <id> --spans <file>

Each layer's public function is called in the order its job calls it,
and its result is persisted and counted inside the layer's span, so the
next layer starts from materialized input and every span holds its own
layer's work. Spark jobs started inside a span carry the span name as
job description, which is how the event log's task metrics are matched
to spans afterwards. Spans are kept in memory and written to ``--spans``
as JSON when the workload is done; the output lands under ``--output``
in the same layout the untraced workload writes.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
from contextlib import contextmanager  # noqa: E402


class Tracer:
    def __init__(self, workload: str, run_id: str):
        self.workload, self.run_id = workload, run_id
        self.spans: list[dict] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, start: float | None = None):
        rec = {"id": len(self.spans), "name": name, "parent": None,
               "workload": self.workload, "run_id": self.run_id,
               "start": time.time() if start is None else start, "rows_out": None}
        self.spans.append(rec)
        if self.sc is not None:
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.sc is not None:
                self.sc.setJobDescription(None)


def _materialize(df, rec):
    df = df.persist()
    rec["rows_out"] = df.count()
    return df


def segment(t, spark, pages, a):
    from transkribusdu_spark.pipeline.edges import build_edges
    from transkribusdu_spark.pipeline.features import edge_features
    from transkribusdu_spark.pipeline.model import edge_oracle_scores
    from transkribusdu_spark.pipeline.parse import parse_pages
    from transkribusdu_spark.pipeline.segment import connected_components

    # the order and calls of api.conjugate_cluster
    with t.span("pipeline.parse") as s:
        nodes = _materialize(parse_pages(pages), s)
    with t.span("pipeline.edges") as s:
        edges = _materialize(build_edges(nodes), s)
    with t.span("pipeline.features") as s:
        ef = _materialize(edge_features(edges, nodes), s)
    with t.span("pipeline.model") as s:
        scores = _materialize(edge_oracle_scores(ef), s)
    with t.span("pipeline.segment") as s:
        clusters = _materialize(connected_components(nodes, scores), s)
    with t.span("output"):
        clusters.write.parquet(a.output)


def corpus_dedup(t, spark, pages, a):
    from pyspark.sql import functions as F

    from transkribusdu_spark.ops import dedup, dedupgraph, urls
    from transkribusdu_spark.pipeline.extract import extract_from_pages
    from transkribusdu_spark.pipeline.lineage import run_with_lineage, straggler_stats, verify_lineage

    # the order and calls of jobs/corpus_job.py with its defaults
    with t.span("ops.urls") as s:
        latest = _materialize(urls.url_dedup_rows(pages).drop("canonical_url", "n_snapshots"), s)
    pages.unpersist()
    with t.span("pipeline.extract") as s:
        extracted = _materialize(extract_from_pages(latest), s)
    latest.unpersist()
    docs = extracted.select("doc_id", F.col("extracted_text").alias("text"))
    with t.span("ops.dedup") as s:
        pairs = _materialize(dedup.minhash_lsh_pairs(docs), s)
    with t.span("ops.dedupgraph") as s:
        verdicts = dedupgraph.dedup_survivors(docs, pairs)
        kept = _materialize(
            extracted.join(verdicts.filter("survivor").select("doc_id"), "doc_id", "left_semi"), s)
    with t.span("pipeline.lineage") as s:
        run_with_lineage(kept, a.output, run_id=a.run_id, input_snapshot=a.pages)
        s["rows_out"] = verify_lineage(spark, a.output, expected_docs=-1)["lineage_docs"]
        straggler_stats(spark, a.output, run_id=a.run_id)


WORKLOADS = {"segment": segment, "corpus_dedup": corpus_dedup}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--pages", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--spans", required=True, help="file the spans are written to")
    a = p.parse_args()

    t = Tracer(a.workload, a.run_id)
    with t.span("session", start=T_START):
        from transkribusdu_spark.session import submit_session

        spark = submit_session(app_name=f"perfbench:traced:{a.workload}")
        t.sc = spark.sparkContext
        t.sc.setJobDescription("session")
        spark.range(1).count()
    with t.span("input") as s:
        pages = _materialize(spark.read.parquet(a.pages), s)
    WORKLOADS[a.workload](t, spark, pages, a)
    with t.span("stop"):
        t.sc = None
        spark.stop()
    with open(a.spans, "w") as f:
        json.dump(t.spans, f)


if __name__ == "__main__":
    main()
