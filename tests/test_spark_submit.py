"""The north rule's launch surface, end-to-end: `spark-submit
--py-files transkribusdu_spark.zip jobs/extract_job.py`.

The job script is copied into a temp dir and launched with a scrubbed
PYTHONPATH from OUTSIDE the repo (harness shared with
tools/submit_scaling_run.py via tools/submitlib.py), so the package can
resolve ONLY from the --py-files zip — this is the actual cluster
deployment path, not an import-from-checkout simulation. Asserts the
job contracts: byte-identical extraction, complete per-partition
lineage, idempotent --resume restart, and a loud refusal to
double-count a reused run_id."""

from __future__ import annotations

import os
import shutil
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
import submitlib  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _submit(tmp, zip_path, *job_args, timeout=300):
    return submitlib.run_submit(
        os.path.join(tmp, "extract_job.py"),
        list(job_args),
        master="local[4]",
        zip_path=zip_path,
        cwd=tmp,
        conf={"spark.driver.memory": "4g"},
        timeout=timeout,
    )


@pytest.mark.skipif(not os.path.exists(submitlib.SPARK_SUBMIT),
                    reason="spark-submit not available")
def test_submit_extract_resume_lineage(tmp_path):
    tmp = str(tmp_path)
    out = os.path.join(tmp, "out")
    zip_path = submitlib.build_zip(os.path.join(tmp, "transkribusdu_spark.zip"))
    shutil.copy(os.path.join(REPO, "jobs", "extract_job.py"), tmp)

    m1 = _submit(
        tmp, zip_path, "--sf-dir", SF_DIR, "--output", out,
        "--run-id", "rA", "--expected-docs", "500",
    )
    assert m1["docs_this_run"] == 500
    # parse funnel observed in the action that wrote the output
    assert m1["funnel"] == {"parse_ok": 500, "parse_error": 0, "truncated": 0, "empty": 0}
    assert m1["lineage"]["complete"] is True
    assert m1["lineage"]["lineage_docs"] == 500
    assert m1["stragglers"]["partitions"] >= 1
    assert m1["master"] == "local[4]"  # spark-submit's --master won
    assert set(m1["phases"]) == {"extract_write_sec", "lineage_sec", "audit_sec"}

    # Byte-identical extraction against the source documents table.
    con = duckdb.connect()
    n_bad = con.execute(
        f"""
        select count(*) from '{out}/extracted/*.parquet' e
        join '{SF_DIR}/documents.parquet' d using (doc_id)
        where e.extracted_text is distinct from d.text
        """
    ).fetchone()[0]
    assert n_bad == 0
    # every document parsed cleanly: no audit rows, so no audit table
    assert not os.path.exists(os.path.join(out, "audit"))

    # Idempotent restart: everything already extracted -> zero new docs,
    # no duplicate output rows, and run rA's lineage is untouched.
    m2 = _submit(
        tmp, zip_path, "--sf-dir", SF_DIR, "--output", out,
        "--run-id", "rB", "--resume", "--expected-docs", "500",
    )
    assert m2["docs_this_run"] == 0
    # zero pending urls: the observation still fires (the job returned,
    # so reading it did not block) and counts nothing
    assert m2["funnel"] == {"parse_ok": 0, "parse_error": 0, "truncated": 0, "empty": 0}
    assert m2["lineage"]["complete"] is True
    n_rows, n_urls = con.execute(
        f"select count(*), count(distinct url) from '{out}/extracted/*.parquet'"
    ).fetchone()
    assert n_rows == n_urls == 500

    # Reusing a finished run_id (classic scheduler-retry shape) must fail
    # LOUDLY instead of double-counting rA's documents in the lineage.
    lineage_sql = f"select count(*) from '{out}/lineage/*.parquet' where run_id = 'rA'"
    n_before = con.execute(lineage_sql).fetchone()[0]
    with pytest.raises(RuntimeError, match="already has"):
        _submit(tmp, zip_path, "--sf-dir", SF_DIR, "--output", out,
                "--run-id", "rA", "--resume")
    assert con.execute(lineage_sql).fetchone()[0] == n_before  # unchanged


@pytest.mark.skipif(not os.path.exists(submitlib.SPARK_SUBMIT),
                    reason="spark-submit not available")
def test_submit_dedup_job(tmp_path):
    tmp = str(tmp_path)
    out = os.path.join(tmp, "dups")
    zip_path = submitlib.build_zip(os.path.join(tmp, "transkribusdu_spark.zip"))
    shutil.copy(os.path.join(REPO, "jobs", "dedup_job.py"), tmp)

    m = submitlib.run_submit(
        os.path.join(tmp, "dedup_job.py"),
        ["--sf-dir", SF_DIR, "--op", "simhash", "--output", out],
        master="local[4]",
        zip_path=zip_path,
        cwd=tmp,
        conf={"spark.driver.memory": "4g"},
        timeout=300,
    )
    assert m["op"] == "simhash"
    assert m["input_docs"] == 500
    con = duckdb.connect()
    got, bad = con.execute(
        f"""
        select count(*),
               sum(case when hamming > 8 or doc_a >= doc_b then 1 else 0 end)
        from '{out}/*.parquet'
        """
    ).fetchone()
    assert m["result_rows"] == got > 0
    assert bad == 0  # output contract: doc_a < doc_b, hamming <= max


def test_submit_dedup_cluster_and_clean(tmp_path):
    """End-to-end corpus dedup through the deployment surface: `--op
    cluster` verdicts must equal a union-find closure over the pairs an
    independent `--op minhash` run emits, and `--op clean` must keep
    exactly the survivor documents."""
    tmp = str(tmp_path)
    zip_path = submitlib.build_zip(os.path.join(tmp, "transkribusdu_spark.zip"))
    shutil.copy(os.path.join(REPO, "jobs", "dedup_job.py"), tmp)

    def run(op, out):
        return submitlib.run_submit(
            os.path.join(tmp, "dedup_job.py"),
            ["--sf-dir", SF_DIR, "--op", op, "--output", out],
            master="local[4]", zip_path=zip_path, cwd=tmp,
            conf={"spark.driver.memory": "4g"}, timeout=300,
        )

    pairs_out = os.path.join(tmp, "pairs")
    cluster_out = os.path.join(tmp, "clusters")
    clean_out = os.path.join(tmp, "clean")
    run("minhash", pairs_out)
    mc = run("cluster", cluster_out)
    ml = run("clean", clean_out)

    con = duckdb.connect()
    pairs = con.execute(f"select doc_a, doc_b from '{pairs_out}/*.parquet'").fetchall()
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    verdicts = con.execute(
        f"select doc_id, component, survivor from '{cluster_out}/*.parquet'"
    ).fetchall()
    assert mc["result_rows"] == len(verdicts) == 500  # one verdict per doc
    got = {d: c for d, c, _ in verdicts if c != d or d in want}
    assert {d: c for d, c in got.items() if d in want} == want
    survivors = {d for d, _, s in verdicts if s}
    assert survivors == {d for d, c, _ in verdicts if d == c}

    clean = {r[0] for r in con.execute(
        f"select doc_id from '{clean_out}/*.parquet'").fetchall()}
    assert ml["result_rows"] == len(clean)
    assert clean == survivors


def test_submit_corpus_job_full_funnel(spark, tmp_path):
    """The end-to-end corpus construction job through the deployment
    surface, over a pages snapshot with PLANTED url-snapshot duplicates:
    every url also appears as an older tracking-param variant. The url
    dedup stage must collapse the corpus back to one snapshot per page
    (keeping the newer one), extraction stays byte-identical, content
    dedup keeps one doc per near-dup cluster, and the lineage verdict
    is complete."""
    tmp = str(tmp_path)
    zip_path = submitlib.build_zip(os.path.join(tmp, "transkribusdu_spark.zip"))
    shutil.copy(os.path.join(REPO, "jobs", "corpus_job.py"), tmp)
    pages_dir = os.path.join(tmp, "pages")
    out = os.path.join(tmp, "corpus")

    # build the doubled snapshot with the SHARED session fixture — a
    # build_session().stop() here would kill the suite-wide
    # SparkContext (getOrCreate returns the live one) for every test
    # file after this one
    from pyspark.sql import functions as F

    from transkribusdu_spark.synth import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    older_variant = pages.withColumn(
        "url", F.concat(F.col("url"), F.lit("?utm_source=dup#frag"))
    ).withColumn("warc_ts", F.col("warc_ts") - F.expr("interval 1 day"))
    pages.unionByName(older_variant).write.mode("overwrite").parquet(pages_dir)

    m = submitlib.run_submit(
        os.path.join(tmp, "corpus_job.py"),
        ["--pages", pages_dir, "--output", out, "--annotate"],
        master="local[4]", zip_path=zip_path, cwd=tmp,
        conf={"spark.driver.memory": "4g"}, timeout=480,
    )
    assert m["funnel"]["pages_in"] == 1000
    assert m["funnel"]["after_url_dedup"] == 500  # variants collapsed
    assert m["funnel"]["extracted"] == 500
    assert m["funnel"]["parse_ok"] == 500
    assert m["funnel"]["parse_error"] == 0
    assert m["funnel"]["after_content_dedup"] == m["corpus_docs"] < 500
    assert m["lineage"]["complete"] is True

    # the kept snapshot is the NEWER (un-suffixed) url, and extraction
    # over the survivors is byte-identical to the source documents
    con = duckdb.connect()
    n_variant, n_mismatch = con.execute(
        f"""
        select sum(case when e.url like '%utm_source=dup%' then 1 else 0 end),
               sum(case when e.extracted_text <> d.text then 1 else 0 end)
        from '{out}/extracted/*.parquet' e
        join '{SF_DIR}/documents.parquet' d on e.doc_id = d.doc_id
        """
    ).fetchone()
    assert (n_variant, n_mismatch) == (0, 0)

    # --annotate attached the quality/lang/repetition columns, in the
    # written order, with sane values
    cols = [r[0] for r in con.execute(
        f"describe select * from '{out}/extracted/*.parquet'").fetchall()]
    assert cols == [
        "doc_id", "url", "extracted_text", "spans",
        "n_tokens", "n_subwords", "n_chars_seen", "pred_lang", "marker_hits",
        "mean_token_len", "type_token_ratio", "stopword_frac", "quality",
        "top_ngram_frac", "dup_ngram_frac", "run_id",
    ], cols
    bad = con.execute(
        f"""select count(*) from '{out}/extracted/*.parquet'
            where n_tokens <= 0 or top_ngram_frac not between 0 and 1
               or dup_ngram_frac not between 0 and 1"""
    ).fetchone()[0]
    assert bad == 0
