"""Plan hygiene: the physical plans must stay the plans we designed —
pruned scans, single shuffle for extraction, broadcast joins for small
dims. Regressions here are scale bugs even when results stay correct."""

import ast
import os
import tempfile

from pyspark.sql import functions as F

from transkribusdu_spark.pipeline.extract import extract_text_spans
from transkribusdu_spark.pipeline.parse import parse_pages
from transkribusdu_spark.relational import pricing_summary, revenue_by_nation
from transkribusdu_spark.synth import pages_from_documents


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _full(df) -> str:
    return df._jdf.queryExecution().toString()


def test_extraction_scan_pruned_and_single_shuffle(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="plan_pages_")
    pages_from_documents(spark, sf_dir).write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)
    ext = extract_text_spans(parse_pages(pages))
    plan = _full(ext.agg(F.sum(F.length("extracted_text"))))
    # Column pruning: the parquet scan must read ONLY url + html.
    assert "struct<url:string,html:binary>" in plan, "scan not pruned to url+html"
    # The extraction path itself must shuffle exactly once (on url); the
    # final scalar agg adds one more exchange, so total <= 2.
    n_exchanges = _physical(ext.agg(F.sum(F.length("extracted_text")))).count("Exchange ")
    assert n_exchanges <= 2, f"extraction plan has {n_exchanges} exchanges"


def test_revenue_join_broadcasts_nation(spark, sf_dir):
    plan = _physical(revenue_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "nation dim not broadcast"


def test_pricing_summary_filter_pushdown(spark, sf_dir):
    plan = _full(pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, (
        "shipdate filter not pushed to parquet scan"
    )
    # partial aggregation (map-side combine) must be present
    assert plan.count("HashAggregate") >= 2, "no partial+final aggregation"


def test_extraction_is_whole_stage_codegen_after_udf(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="plan_pages2_")
    pages_from_documents(spark, sf_dir).write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)
    ext = extract_text_spans(parse_pages(pages))
    agg = ext.agg(F.sum(F.length("extracted_text")))
    agg.collect()  # run it so AQE finalizes the plan (codegen visible)
    phys = _physical(agg).split("== Initial Plan ==")[0]  # final plan only
    # '*(n)' prefixes mark WholeStageCodegen stages in the final plan
    assert "*(" in phys or "WholeStageCodegen" in phys, "relational glue fell out of codegen"
    # exactly one Python boundary: the parse UDF
    assert phys.count("MapInArrow") == 1
    assert "BatchEvalPython" not in phys, "row-at-a-time Python UDF crept in"


def test_embedding_near_dups_no_cartesian(spark, sf_dir):
    """The near-dup pair generator must be the LSH-bucket equi-join, never
    an all-pairs cross join (the O(N^2) scale-killer)."""
    from transkribusdu_spark.ops.dedup import embedding_near_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _physical(embedding_near_dups(emb))
    assert "CartesianProduct" not in plan, "near-dups regressed to all-pairs cross join"
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_lsh_distinct_carries_ids_only(spark, sf_dir):
    """The multi-table candidate dedup must shuffle (query_id, vec_id)
    pairs only — full float vectors re-join after the distinct."""
    from transkribusdu_spark.ops import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = similarity.self_queries(emb, 5)
    plan = _physical(similarity.ann_lsh(emb, q))
    import re

    for m in re.finditer(r"HashAggregate\(keys=\[([^\]]*)\]", plan):
        keys = m.group(1)
        if "query_id" in keys and "vec_id" in keys:
            assert "qv" not in keys and not re.search(r"\bv#", keys), (
                "candidate distinct still shuffles embedding vectors: " + keys
            )


def test_ivf_probe_has_no_driver_query_collect(spark, sf_dir):
    """ivf_knn probe lists must be column expressions over broadcast
    centroids — the query table stays a single distributed plan (a
    LocalTableScan of query rows would betray a driver-side collect)."""
    from transkribusdu_spark.ops import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = similarity.self_queries(emb, 5)
    plan = _physical(similarity.ivf_knn(emb, q))
    assert "LocalTableScan" not in plan, "query probe list was collected to the driver"


def test_user_sessions_single_shuffle(spark, sf_dir):
    """Sessionization must reuse one user_id partitioning for both
    window passes and the final aggregate — exactly one exchange."""
    from transkribusdu_spark.streaming.incremental import user_sessions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _physical(user_sessions(ev))
    assert plan.count("Exchange") == 1, plan[:2000]
    assert plan.count("Sort") == 1, "windows should share one sort order"


def test_hot_shingle_guard_not_forced_broadcast(spark, sf_dir):
    """The hot-shingle anti-join must carry NO broadcast hint: at web
    scale the boilerplate-shingle set can hold millions of strings, so
    the join strategy belongs to AQE (which still picks broadcast when
    the set is small), not to a hard-coded hint that risks driver
    memory at 100 TB."""
    from transkribusdu_spark.ops import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    analyzed = dedup.ngram_jaccard_pairs(docs)._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in analyzed, "forced join hint found in hot-shingle guard"
    # the guard itself must still be there (left-anti join on shingle)
    assert "LeftAnti" in analyzed, "hot-shingle anti-join missing"


def test_minhash_lsh_pairs_two_arrow_kernels_no_pandas(spark, sf_dir):
    """The MinHash path has two Python boundaries, both whole-batch
    Arrow kernels: the signature map and the verification-set map. A
    per-doc pandas map (the shape both replaced) must not come back. A
    persisted kernel prints once per reader, so count distinct nodes."""
    import re

    from transkribusdu_spark.ops import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(dedup.minhash_lsh_pairs(docs))
    assert "MapInPandas" not in plan, "per-doc pandas kernel on the MinHash path"
    kernels = set(re.findall(r"MapInArrow [^\n]*", plan))
    assert len(kernels) == 2, kernels


def test_conjugate_cluster_graph_stages_on_arrow_harness(spark, sf_dir):
    """The staged conjugate composition (the model-scored path, and the
    one the oracles gate) crosses into Python for edges and clustering
    through the one Arrow per-document harness (groupBy/cogroup on url +
    applyInArrow); a per-group pandas UDF, the shape it replaced, must
    not come back."""
    from transkribusdu_spark.pipeline.edges import build_edges
    from transkribusdu_spark.pipeline.features import edge_features
    from transkribusdu_spark.pipeline.model import edge_oracle_scores
    from transkribusdu_spark.pipeline.segment import connected_components

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    scores = edge_oracle_scores(edge_features(build_edges(nodes), nodes))
    plan = _physical(connected_components(nodes, scores))
    assert "FlatMapGroupsInPandas" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "FlatMapGroupsInArrow" in plan and "FlatMapCoGroupsInArrow" in plan


def test_conjugate_cluster_is_one_map_only_arrow_pass(spark, sf_dir):
    """Oracle conjugate clustering is per document end to end: one
    mapInArrow over the scanned pages parses each document once and
    clusters it in place; no url shuffle, no pandas boundary."""
    from transkribusdu_spark.api import conjugate_cluster

    tmp = tempfile.mkdtemp(prefix="plan_pages_cc_")
    pages_from_documents(spark, sf_dir).write.mode("overwrite").parquet(tmp)
    plan = _physical(conjugate_cluster(spark.read.parquet(tmp)))
    assert plan.count("MapInArrow") == 1, plan
    for node in ("Exchange", "MapInPandas", "FlatMap"):
        assert node not in plan, plan


def test_segment_regions_is_one_map_only_arrow_pass(spark, sf_dir):
    """Region segmentation reads each document's member boxes from the
    document itself: one parse per document, no join back to a node
    table, no url shuffle, no pandas boundary."""
    from transkribusdu_spark.api import segment_regions

    tmp = tempfile.mkdtemp(prefix="plan_pages_sr_")
    pages_from_documents(spark, sf_dir).write.mode("overwrite").parquet(tmp)
    plan = _physical(segment_regions(spark.read.parquet(tmp)))
    assert plan.count("MapInArrow") == 1, plan
    for node in ("Exchange", "MapInPandas", "FlatMap"):
        assert node not in plan, plan


def test_extract_documents_deterministic_is_two_arrow_passes(spark, sf_dir):
    """The learned path parses each document once to fit (per-document
    statistics summed in the JVM) and once to score, smooth and extract:
    no url shuffle, no pandas UDF, no grouped pandas smoothing."""
    from transkribusdu_spark.api import extract_documents_deterministic
    from transkribusdu_spark.pipeline.model import lda_fit_stats

    tmp = tempfile.mkdtemp(prefix="plan_pages_det_")
    pages_from_documents(spark, sf_dir).write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)
    fit = _physical(lda_fit_stats(pages))
    assert fit.count("MapInArrow") == 1, fit
    plan = _physical(extract_documents_deterministic(pages))
    assert plan.count("MapInArrow") == 1, plan
    for node in ("Exchange", "FlatMapGroupsInPandas", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_page_passes_are_one_arrow_map_each(spark, sf_dir):
    """parse_pages, edges_from_pages and extract_with_status are each the
    one per-document Arrow pass over pages, with no pandas boundary."""
    from transkribusdu_spark.pipeline.edges import edges_from_pages
    from transkribusdu_spark.pipeline.extract import extract_with_status

    tmp = tempfile.mkdtemp(prefix="plan_pages_pp_")
    pages_from_documents(spark, sf_dir).write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)
    for stage in (parse_pages, edges_from_pages, extract_with_status):
        plan = _physical(stage(pages))
        assert plan.count("MapInArrow") == 1, (stage.__name__, plan)
        assert "MapInPandas" not in plan, (stage.__name__, plan)


def test_url_dedup_rows_single_shuffle_jvm_only(spark, sf_dir):
    """URL snapshot dedup must shuffle exactly once (on canonical_url)
    — the row_number pick and the snapshot count are windows sharing
    that one partitioning — and stay entirely JVM-side (regex
    canonicalization is built-in expressions, no Python UDF)."""
    from transkribusdu_spark.ops.urls import url_dedup_rows
    from transkribusdu_spark.synth import pages_from_documents

    pages = pages_from_documents(spark, sf_dir).select("url", "warc_ts")
    plan = _physical(url_dedup_rows(pages))
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "Python" not in plan, "url canonicalization fell out of the JVM"


def test_duplicate_ngram_spans_jvm_only_int_gram_keys(spark, sf_dir):
    """The duplicated-span pipeline must be pure built-in expressions
    (no Python in the hot path) and shuffle gram keys as the hashed
    LONG, never the gram string (shuffle-width guard for 100 TB)."""
    from transkribusdu_spark.ops import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = dedup.duplicate_ngram_spans(docs)
    import re

    plan = _physical(df)
    assert "Python" not in plan, "span pipeline fell out of the JVM"
    # long attributes print as name#<id>L in the analyzed plan; a
    # string gram would print as gram#<id> with no suffix
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert re.search(r"gram#\d+L", analyzed), "gram key is not a long"
    assert not re.search(r"gram#\d+(?!\d|L)", analyzed), "string gram leaked into the plan"


def test_repetition_stats_jvm_only(spark, sf_dir):
    """Repetition fractions must stay whole-stage JVM (no Python UDF)
    with partial aggregation present on the (doc_id, gram) groupBys."""
    from transkribusdu_spark.ops import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(textstats.repetition_stats(docs))
    assert "Python" not in plan, "repetition stats fell out of the JVM"
    assert plan.count("HashAggregate") >= 4, "missing partial aggregation"


def _call_sites(callee: str) -> list[tuple[str, str | None]]:
    """(module path, enclosing top-level definition) of every call to
    ``callee`` anywhere in the package."""
    import transkribusdu_spark

    root = os.path.dirname(transkribusdu_spark.__file__)
    sites = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(d, name)
                with open(path) as f:
                    tree = ast.parse(f.read())
                for node in ast.walk(tree):
                    if (isinstance(node, ast.Call)
                            and getattr(node.func, "id", getattr(node.func, "attr", None)) == callee):
                        top = next(t for t in tree.body if t.lineno <= node.lineno <= t.end_lineno)
                        sites.append((os.path.relpath(path, root), getattr(top, "name", None)))
    return sites


def test_parse_doc_cols_has_one_call_site():
    """Each document is parsed once per job: the package calls
    parse_doc_cols from exactly one place (the parse_batch loop), so no
    kernel can grow its own parse/skip loop or a second audit parse."""
    assert _call_sites("parse_doc_cols") == [(os.path.join("pipeline", "parse.py"), "parse_batch")]


def test_parse_batch_has_one_call_site():
    """Every pass over pages crosses into Python the same way: the
    package calls parse_batch only from perdoc.per_doc, so no stage can
    grow its own batch loop around the parse."""
    assert _call_sites("parse_batch") == [(os.path.join("pipeline", "perdoc.py"), "per_doc")]


def test_persisted_status_is_coalesced_by_aqe(spark, sf_dir):
    """The jobs persist the extraction ``status`` frame behind url
    dedup's window shuffle. AQE sizes that cached plan to its data, so
    the Python kernels reading it run fewer tasks than
    ``spark.sql.shuffle.partitions``."""
    from transkribusdu_spark.ops.urls import url_dedup_rows
    from transkribusdu_spark.pipeline.extract import extract_with_status
    from transkribusdu_spark.session import engine_conf
    from transkribusdu_spark.synth import pages_from_documents

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert engine_conf()[key] == "true"
    assert spark.conf.get(key) == "true"
    sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    pages = url_dedup_rows(pages_from_documents(spark, sf))
    status = extract_with_status(pages.drop("canonical_url", "n_snapshots")).persist()
    try:
        assert status.count() == 500
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert status.rdd.getNumPartitions() < n_shuffle
    finally:
        status.unpersist()
