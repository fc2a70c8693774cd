"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship main-content extraction at sf0.001;
``queries()`` exposes one callable per implemented operator (SURVEY.md
§2 + training-data ops); ``oracle_sql()`` gives the DuckDB-equivalent
SQL. Column names and types are aligned on both sides (counts as
BIGINT, floats rounded to fixed decimals at the output boundary).
"""

from __future__ import annotations

import sys
import os
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transkribusdu_spark import relational as rel
from transkribusdu_spark.api import conjugate_cluster, extract_documents_deterministic
from transkribusdu_spark.functions.xycut import page_coverage_profile
from transkribusdu_spark.ops import dedup, dedupgraph, similarity, textstats, urls
from transkribusdu_spark.ops.multimodal import attach_media, extract_binary_features
from transkribusdu_spark.pipeline.conjugate import dual_graph
from transkribusdu_spark.pipeline.edges import build_edges, edges_from_pages
from transkribusdu_spark.pipeline.extract import extract_from_pages, extract_text_spans
from transkribusdu_spark.pipeline.features import edge_features, fit_tfidf_vocab, node_features
from transkribusdu_spark.pipeline.model import edge_oracle_scores
from transkribusdu_spark.pipeline.parse import parse_pages
from transkribusdu_spark.pipeline.segment import agglomerative_clusters, connected_components
from transkribusdu_spark.plans.salting import docs_per_host_salted
from transkribusdu_spark.streaming.incremental import windowed_event_counts
from transkribusdu_spark.synth import pages_from_documents


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# Flagship
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Main-content extraction over synthesized Common-Crawl-style pages
    at sf0.001: scan -> parse -> reading order -> text+spans, FUSED as
    one map-only pass (doc-local ordering needs no shuffle; the
    window-based extract_text_spans form remains for labeled node
    tables and is byte-identical — locked by tests + oracles)."""
    sf_dir = "/root/testdata/sf0.001"
    pages = pages_from_documents(spark, sf_dir)
    ext = extract_from_pages(pages)
    return ext.select("url", "doc_id", "extracted_text", F.size("spans").alias("n_spans"))


# ---------------------------------------------------------------------------
# Query registry
# ---------------------------------------------------------------------------
def _q_extract_main_text(spark, sf_dir):
    ext = extract_from_pages(pages_from_documents(spark, sf_dir))
    return ext.select("doc_id", "extracted_text")


def _q_extract_full_text(spark, sf_dir):
    ext = extract_from_pages(pages_from_documents(spark, sf_dir), labels=None)
    return ext.select("doc_id", "extracted_text")


def _q_extract_spans(spark, sf_dir):
    """North-rule span surface: per-document span OFFSETS of the
    main-content extraction, hash-verified against the closed-form
    running-sum oracle over the ground-truth node table."""
    ext = extract_from_pages(pages_from_documents(spark, sf_dir))
    sp = ext.select("doc_id", F.explode("spans").alias("s"))
    return sp.select(
        "doc_id",
        F.col("s.node_id").alias("node_id"),
        F.col("s.start").alias("start"),
        F.col("s.end").alias("end"),
        F.col("s.label").alias("label"),
    )


def _q_parse_nodes(spark, sf_dir):
    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    return nodes.groupBy("doc_id").agg(
        F.count("*").alias("n_nodes"), F.max("page_cnt").cast("long").alias("n_pages")
    )


def _q_edges_hist(spark, sf_dir):
    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    return build_edges(nodes).groupBy("etype").agg(F.count("*").alias("n"))


def _q_cluster_cc(spark, sf_dir):
    """Map-only oracle conjugate clustering (``api.conjugate_cluster``);
    ``cluster_hulls`` keeps the staged composition, so both are gated."""
    clusters = conjugate_cluster(pages_from_documents(spark, sf_dir))
    return clusters.groupBy("url").agg(F.count("*").alias("n_clusters"))


def _q_node_label_hist(spark, sf_dir):
    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    return nodes.groupBy("label").agg(F.count("*").alias("n"))


def _q_cluster_agglo(spark, sf_dir):
    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    ef = edge_features(build_edges(nodes), nodes)
    clusters = agglomerative_clusters(nodes, edge_oracle_scores(ef))
    return clusters.groupBy("url").agg(F.count("*").alias("n_clusters"))


def _q_dual_graph(spark, sf_dir):
    edges = edges_from_pages(pages_from_documents(spark, sf_dir))
    return dual_graph(edges).groupBy("url").agg(F.count("*").alias("n_dual_edges"))


def _q_page_coverage(spark, sf_dir):
    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    return page_coverage_profile(nodes)


def _q_docs_per_host(spark, sf_dir):
    return docs_per_host_salted(pages_from_documents(spark, sf_dir))


def _q_tfidf_vocab(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return fit_tfidf_vocab(docs, n=3, max_features=100)


def _q_extract_via_json(spark, sf_dir):
    """S5 JSON-OCR source: XML nodes -> JSON payload -> JSON parser ->
    extraction; must still be byte-identical to documents.text."""
    from transkribusdu_spark.sources.json_ocr import nodes_to_json_payload, parse_json_pages

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    payload = nodes_to_json_payload(nodes).select(
        "url", F.encode("payload", "UTF-8").alias("html")
    )
    re_nodes = parse_json_pages(payload)
    return extract_text_spans(re_nodes).select("doc_id", "extracted_text")


def _q_extract_via_writeback(spark, sf_dir):
    """S9/S10 write-back round-trip: parse -> render enriched XML ->
    re-parse -> extract; still byte-identical to documents.text."""
    from transkribusdu_spark.sources.writeback import render_enriched_xml

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    rendered = render_enriched_xml(nodes).select(
        "url", F.encode("xml", "UTF-8").alias("html")
    )
    return extract_text_spans(parse_pages(rendered)).select("doc_id", "extracted_text")


def _q_extract_via_dsxml(spark, sf_dir):
    """S6 DS-XML source: nodes -> DS-XML dialect -> DS parser ->
    extraction; must still be byte-identical to documents.text."""
    from transkribusdu_spark.sources.ds_xml import nodes_to_dsxml, parse_dsxml_pages

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    payload = nodes_to_dsxml(nodes).select(
        "url", F.encode("dsxml", "UTF-8").alias("html")
    )
    return extract_text_spans(parse_dsxml_pages(payload)).select("doc_id", "extracted_text")


def _q_fold_counts(spark, sf_dir):
    from transkribusdu_spark.pipeline.cv import assign_folds

    folds = assign_folds(pages_from_documents(spark, sf_dir), n_folds=4)
    return folds.groupBy("fold").agg(F.count("*").alias("n"))


def _q_ecn_scores(spark, sf_dir):
    """M4 ECN inference from FITTED weights, hash-gated: the pinned
    trained-weights artifact (truth/ecn_weights_<sf>.json, produced by
    tools/pin_ecn_weights.py from the deterministic 30-epoch distributed
    fit) makes the output fully deterministic, and the oracle is an
    INDEPENDENT numpy forward pass over the same pinned weights with
    features/edges re-derived from the layout plan
    (tools/make_truth.py ecn_scores_truth; reference semantics
    gcn/gcn_models.py:516-609). Training quality stays pytest-gated in
    tests/test_ecn_training.py (>=0.97 node accuracy, byte-identical
    extraction above the LR baseline). An unknown sf_dir falls back to
    training in place."""
    import json

    from transkribusdu_spark.pipeline.ecn import ecn_score, train_ecn
    from transkribusdu_spark.pipeline.features import NODE_FEATURE_COLS

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    edges = build_edges(nodes).cache()
    nf = node_features(nodes, edges).cache()
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    wpath = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "truth", f"ecn_weights_{sf_tag}.json")
    if os.path.exists(wpath):
        with open(wpath) as fh:
            w = json.load(fh)
    else:
        w = train_ecn(nf, edges, NODE_FEATURE_COLS, epochs=30, lr=0.1)
    scored = ecn_score(nf, edges, w, NODE_FEATURE_COLS)
    return scored.groupBy("url").agg(
        F.count("*").alias("n_scored"),
        F.sum((F.col("y_proba")[1] >= 0.5).cast("long")).alias("n_main_pred"),
    )


def _q_edges_hist_modes(spark, sf_dir):
    """J1/J2/J3/P5 in one multi-mode histogram: g1, g2 (true masking),
    g1o (overlaps allowed) over raw boxes plus g1 over BBoxDeltaFun-shrunk
    boxes ('g1s'), each a map-only fused parse+edges pass."""
    from transkribusdu_spark.pipeline.parse import shrink_bboxes

    pages = pages_from_documents(spark, sf_dir)
    parts = [
        edges_from_pages(pages, mode=m)
        .groupBy("etype")
        .agg(F.count("*").alias("n"))
        .withColumn("mode", F.lit(m))
        for m in ("g1", "g2", "g1o")
    ]
    shr = (
        build_edges(shrink_bboxes(parse_pages(pages)))
        .groupBy("etype")
        .agg(F.count("*").alias("n"))
        .withColumn("mode", F.lit("g1s"))
    )
    out = parts[0]
    for p in parts[1:] + [shr]:
        out = out.unionByName(p)
    return out.select("mode", "etype", "n")


def _q_bieso_rows(spark, sf_dir):
    from transkribusdu_spark.pipeline.tablerows import bieso_tag_rows

    nodes = parse_pages(pages_from_documents(spark, sf_dir), kinds=("TextLine",))
    return bieso_tag_rows(nodes).groupBy("bieso").agg(F.count("*").alias("n"))


def _q_multitype_hist(spark, sf_dir):
    nodes = parse_pages(pages_from_documents(spark, sf_dir), kinds=("TextRegion", "TextLine"))
    return nodes.groupBy("kind", "label").agg(F.count("*").alias("n"))


def _q_edges_hist_shrunk(spark, sf_dir):
    """P5 BBoxDeltaFun shrink then g1 sweep (reference
    NodeType_PageXml.py:31-43): edges over shrink-reduced boxes."""
    from transkribusdu_spark.pipeline.parse import shrink_bboxes

    nodes = shrink_bboxes(parse_pages(pages_from_documents(spark, sf_dir)))
    return build_edges(nodes).groupBy("etype").agg(F.count("*").alias("n"))


def _q_node_geom_nopage(spark, sf_dir):
    """F5 page-free geometry (reference Transformer_PageXml.py:106-141)."""
    from transkribusdu_spark.pipeline.features import NOPAGE_GEOM_COLS, node_geom_nopage

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    g = node_geom_nopage(nodes)
    return g.select(
        "url", "node_id", *[F.round(F.col(c), 6).alias(c) for c in NOPAGE_GEOM_COLS]
    )


def _q_neighbor_class_mask(spark, sf_dir):
    """J10 neighbour-class mask (reference graph/Graph.py:376-393),
    bit-encoded per same-page / cross-page block."""
    from transkribusdu_spark.pipeline.features import neighbor_class_mask

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    return neighbor_class_mask(nodes, build_edges(nodes))


def _q_table_rows(spark, sf_dir):
    """Full C9 + E5: detect rows on the deterministic table fixture
    family (cut-candidate mining + BIESO-coherence grid search,
    reference rowDetection.py:389-467), then evaluate the row partition
    against ground truth with the jaccard partition matcher
    (DU_Table_Evaluator semantics)."""
    from transkribusdu_spark.pipeline.tablerows import detect_table_rows, eval_row_clusters
    from transkribusdu_spark.synth import table_lines_df

    lines = table_lines_df(spark, n_tables=40).cache()
    pred = detect_table_rows(lines)
    ev = eval_row_clusters(pred, lines, simil=1.0)
    per_table = lines.groupBy("url", "table_id").agg(F.count("*").alias("n_lines"))
    return (
        ev.join(per_table, "url")
        .select(
            F.col("table_id").cast("int").alias("table_id"),
            (F.col("n_ok") + F.col("n_miss")).alias("n_rows"),
            F.col("n_lines"),
            F.col("f1").alias("row_f1"),
        )
    )


def _q_edges_cpm(spark, sf_dir):
    """J6 continuous-page mirror edges (reference
    Graph_MultiPageXml.py:78-130): per-url counts."""
    from transkribusdu_spark.pipeline.edges import build_continuous_edges

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    return build_continuous_edges(nodes).groupBy("url").agg(F.count("*").alias("n_cpm"))


def _q_edge_lcs_hist(spark, sf_dir):
    """F13 edge text LCS ratio (reference Transformer_PageXml.py:492-534):
    histogram of round-2 lcs/(na+nb-lcs) per edge type."""
    from transkribusdu_spark.pipeline.edgefeats import edge_text_features

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    e = edge_text_features(build_edges(nodes), nodes)
    return e.groupBy(
        "etype", F.round(F.col("ef_lcs_ratio"), 2).alias("lcs2")
    ).agg(F.count("*").alias("n"))


def _q_neighbor_text(spark, sf_dir):
    """F7 neighbour text concat (reference Transformer_PageXml.py:166-187)."""
    from transkribusdu_spark.pipeline.edgefeats import neighbor_text_concat

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    return neighbor_text_concat(nodes, build_edges(nodes))


CHI2_QUERY_FEATURES = [
    "fx1", "fy1", "fx2", "fy2", "fw", "fh", "farea",
    "fcx2", "fcy2", "feven", "fp1", "fplast",
]


def _q_chi2_features(spark, sf_dir):
    """F22 chi2 feature selection over integer-valued geometry features.

    Integer-valued inputs make every distributed sum EXACT (all values
    < 2^53), so the chi2 statistic is bit-reproducible across engines
    and partition orders — the hash-verifiable surface. The same
    operator over the continuous nf_* features is exercised in
    tests/test_modes_hungarian_chi2.py."""
    from transkribusdu_spark.pipeline.featselect import chi2_scores
    from transkribusdu_spark.schemas import MAIN_CONTENT_LABELS

    c = F.col
    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    nf = (
        nodes
        .withColumn("fx1", c("x1")).withColumn("fy1", c("y1"))
        .withColumn("fx2", c("x2")).withColumn("fy2", c("y2"))
        .withColumn("fw", c("x2") - c("x1")).withColumn("fh", c("y2") - c("y1"))
        .withColumn("farea", (c("x2") - c("x1")) * (c("y2") - c("y1")))
        .withColumn("fcx2", c("x1") + c("x2")).withColumn("fcy2", c("y1") + c("y2"))
        .withColumn("feven", (c("page_num") % 2 == 0).cast("double"))
        .withColumn("fp1", (c("page_num") == 1).cast("double"))
        .withColumn("fplast", (c("page_num") == c("page_cnt")).cast("double"))
        .withColumn("y", c("label").isin(list(MAIN_CONTENT_LABELS)).cast("double"))
    )
    return chi2_scores(nf, CHI2_QUERY_FEATURES)


def _q_extract_predicted_smoothed(spark, sf_dir):
    """Full learned path, hash-gated, through
    ``api.extract_documents_deterministic``: fit the DETERMINISTIC
    closed-form node classifier (diagonal LDA over integer features —
    every fitted quantity derives from exact integer sums, so the
    distributed fit is bit-reproducible), Viterbi-smooth along reading
    order with fitted transitions, extract main content with the
    smoothed labels. Oracle: tools/make_truth.py mirrors the identical
    spec single-node. (The spark.ml L-BFGS and ECN learned paths remain
    quality-gated in tests/test_learned_extraction.py and
    tests/test_ecn_training.py.)"""
    ext = extract_documents_deterministic(pages_from_documents(spark, sf_dir))
    return ext.select("doc_id", F.length("extracted_text").alias("n_chars_extracted"))


def _q_extract_via_sources(spark, sf_dir):
    """S5 + S6 + S9/S10 in one query: the JSON-OCR, DS-XML, and enriched
    write-back round-trip source paths, unioned with a source tag — each
    path must still be byte-identical to documents.text."""
    a = _q_extract_via_json(spark, sf_dir).withColumn("source", F.lit("json"))
    b = _q_extract_via_dsxml(spark, sf_dir).withColumn("source", F.lit("dsxml"))
    c = _q_extract_via_writeback(spark, sf_dir).withColumn("source", F.lit("writeback"))
    return a.unionByName(b).unionByName(c)


def _q_textstats_all(spark, sf_dir):
    """Token counting + language-ID + quality scoring + fingerprinting
    in one wide per-document row (all four textstats operators) — fused
    into one map-only select (round 6): same expressions and column
    order as the old 4-scan/3-join form, one scan, zero shuffles."""
    return textstats.all_stats(_docs(spark, sf_dir))


def _q_box_cuts(spark, sf_dir):
    """C8 cut/partition queries (reference util/Shape.py:300-614): every
    valid full-width horizontal cut per page with its half-plane
    partition sizes, from the per-page gap scan of ``page_cut_rows``
    (the DuckDB oracle runs the same scan as window functions)."""
    from transkribusdu_spark.functions.shapecut import valid_horizontal_cuts

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    return valid_horizontal_cuts(nodes)


def _q_cluster_hulls(spark, sf_dir):
    """C4 cluster -> DOM geometry (reference ...Segmenter_DOM.py:41-117 +
    util/Shape.py:50-99): convex hull of each cc-cluster's member box
    corners as a points string (shapely-free monotone chain; oracle =
    independent Jarvis-march sidecar)."""
    from transkribusdu_spark.pipeline.segment import clusters_with_hulls

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    ef = edge_features(build_edges(nodes), nodes)
    clusters = connected_components(nodes, edge_oracle_scores(ef))
    return clusters_with_hulls(clusters, nodes).select(
        "url",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        "hull_points",
    )


def _q_media_metadata(spark, sf_dir):
    feats = extract_binary_features(attach_media(_docs(spark, sf_dir)))
    return feats.select("doc_id", F.col("n_bytes").cast("long").alias("n_bytes"), "mime")


def _q_knn(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return similarity.knn_bruteforce(e, similarity.self_queries(e, 10), k=5)


def _q_ann_lsh(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return similarity.ann_lsh(e, similarity.self_queries(e, 10), k=5)


def _q_ann_ivf(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return similarity.ivf_knn(e, similarity.self_queries(e, 10), k=5)


def _q_url_dedup(spark, sf_dir):
    """URL-snapshot dedup over deterministically-derived crawl variants:
    each document contributes three snapshot urls — two that
    canonicalize to the same form (default port + tracking params +
    fragment + trailing slash vs the clean form, different warc_ts) and
    one distinct singleton. The oracle states the expected canonical
    output directly from doc_id, so it is independent of the regex
    implementation under test (ops/urls.canonical_url)."""
    sid = F.col("doc_id").cast("string")
    h = (F.col("doc_id") % 97).cast("string")
    base = F.concat(
        F.lit("http://host"), h, F.lit(".example.org/d/"), sid
    )
    messy = F.concat(
        F.lit("HTTP://Host"), h, F.lit(".Example.ORG:80/d/"), sid,
        F.lit("/?utm_source=x&q=1#frag"),
    )
    clean = F.concat(base, F.lit("?q=1"))
    snaps = _docs(spark, sf_dir).select(
        F.explode(
            F.array(
                F.struct(messy.alias("url"), (F.col("doc_id") + 100).alias("ts")),
                F.struct(clean.alias("url"), (F.col("doc_id") + 200).alias("ts")),
                F.struct(base.alias("url"), (F.col("doc_id") + 50).alias("ts")),
            )
        ).alias("s")
    ).select(
        F.col("s.url").alias("url"),
        F.timestamp_seconds(F.col("s.ts")).alias("warc_ts"),
    )
    out = urls.url_dedup(snaps)
    return out.select(
        "canonical_url",
        "kept_url",
        F.col("kept_ts").cast("long").alias("kept_ts"),
        "n_snapshots",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries — the driver gate verifies at most 50, so
    every registered query carries a current verdict. Related operator
    variants are folded into multi-mode queries (edges_hist_modes,
    extract_via_sources, textstats_all) rather than dropped."""
    return {
        # --- document pipeline (SURVEY §2.2/2.3/2.6/2.8: P*, J*, O2, C12) ---
        "extract_main_text": _q_extract_main_text,
        "extract_full_text": _q_extract_full_text,
        "extract_via_sources": _q_extract_via_sources,
        "extract_spans": _q_extract_spans,
        "fold_counts": _q_fold_counts,
        "ecn_scores": _q_ecn_scores,
        "parse_nodes": _q_parse_nodes,
        "edges_hist_modes": _q_edges_hist_modes,
        "cluster_cc_oracle": _q_cluster_cc,
        "cluster_agglo_oracle": _q_cluster_agglo,
        "cluster_hulls": _q_cluster_hulls,
        "dual_graph_sizes": _q_dual_graph,
        "page_coverage": _q_page_coverage,
        "docs_per_host_salted": _q_docs_per_host,
        "node_label_hist": _q_node_label_hist,
        "multitype_node_hist": _q_multitype_hist,
        "extract_predicted_smoothed": _q_extract_predicted_smoothed,
        "bieso_row_tags": _q_bieso_rows,
        "edge_lcs_hist": _q_edge_lcs_hist,
        "neighbor_text_concat": _q_neighbor_text,
        "edges_cpm_per_doc": _q_edges_cpm,
        "table_rows_detected": _q_table_rows,
        "node_geom_nopage": _q_node_geom_nopage,
        "neighbor_class_mask": _q_neighbor_class_mask,
        "box_cut_partition": _q_box_cuts,
        # --- fits (cross-document aggregations) ---
        "tfidf_vocab": _q_tfidf_vocab,
        "chi2_features": _q_chi2_features,
        # --- text analysis (token count + lang-id + quality + fingerprint) ---
        "textstats_all": _q_textstats_all,
        # --- dedup ---
        "exact_dedup": lambda s, d: dedup.exact_dedup(_docs(s, d)),
        "ngram_jaccard_pairs": lambda s, d: dedup.ngram_jaccard_pairs(_docs(s, d)),
        "minhash_lsh_pairs": lambda s, d: dedup.minhash_lsh_pairs(_docs(s, d)),
        "simhash": lambda s, d: dedup.simhash(_docs(s, d)),
        "simhash_near_pairs": lambda s, d: dedup.simhash_near_pairs(_docs(s, d)),
        "embedding_near_dups": lambda s, d: dedup.embedding_near_dups(_emb(s, d)),
        # end-to-end corpus dedup: LSH pairs -> distributed connected
        # components (large-star/small-star) -> cluster labels
        "dedup_clusters": lambda s, d: dedupgraph.dedup_clusters(_docs(s, d)),
        # Lee-et-al-style duplicated-passage spans (exact k-token windows)
        "dup_ngram_spans": lambda s, d: dedup.duplicate_ngram_spans(_docs(s, d)),
        # --- similarity search ---
        "knn_bruteforce": _q_knn,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        # --- multimodal plumbing ---
        "media_metadata": _q_media_metadata,
        # --- relational / aggregation coverage (SURVEY §2.5-2.7) ---
        "label_histogram": rel.label_histogram,
        "class_weights": rel.class_weights,
        "token_df_topk": rel.token_df_topk,
        # (round 5: pricing_summary, top_orders_by_revenue,
        # n_chars_quartiles and lang_source_matrix moved to pytest
        # parity — tests/test_relational_parity.py — to keep the
        # registry at the 50-entry driver cap while registering the
        # north-rule-aligned corpus queries: dedup_clusters,
        # dup_ngram_spans, repetition_stats, url_snapshot_dedup)
        # --- web-corpus quality + url dedup ---
        "repetition_stats": lambda s, d: textstats.repetition_stats(_docs(s, d)),
        "url_snapshot_dedup": _q_url_dedup,
        "revenue_by_nation": rel.revenue_by_nation,
        "first_events_per_user": rel.first_events_per_user,
        "user_event_type_jaccard": rel.user_event_type_jaccard,
        # --- event-time windowing (streaming-capable agg, batch parity) ---
        "windowed_event_counts": lambda s, d: windowed_event_counts(
            s.read.parquet(f"{d}/events.parquet")
        ),
        "user_sessions": lambda s, d: __import__(
            "transkribusdu_spark.streaming.incremental", fromlist=["user_sessions"]
        ).user_sessions(s.read.parquet(f"{d}/events.parquet")),
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------
# Ground-truth sidecars (tools/make_truth.py): deterministic expected
# values for the document-pipeline queries, computed by an INDEPENDENT
# single-node implementation from the synth layout plan. The driver's
# correctness gate runs at sf0.01, so oracles read the sf0.01 sidecars
# (path anchored to this file so the repo can live anywhere).
_TRUTH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "truth", "sf0.01")


def _t(name: str) -> str:
    return f"read_parquet('{_TRUTH}/{name}.parquet')"


_MARKER_SQL = {
    lang: ", ".join(f"'{m}'" for m in ms) for lang, ms in textstats.LANG_MARKERS.items()
}

# J10 neighbour-class mask oracle: same bit encoding (ALL_LABELS order)
# over the truth edges + nodes sidecars.
from transkribusdu_spark.schemas import ALL_LABELS as _ALL_LABELS  # noqa: E402

_SP_BITS = " + ".join(
    f"max(case when etype <> 'CP' and nbr_label = '{lab}' then {1 << i} else 0 end)"
    for i, lab in enumerate(_ALL_LABELS)
)
_CP_BITS = " + ".join(
    f"max(case when etype = 'CP' and nbr_label = '{lab}' then {1 << i} else 0 end)"
    for i, lab in enumerate(_ALL_LABELS)
)
_NBR_MASK_SQL = f"""
    with e as (select * from {_t('edges')} where mode = 'g1'),
    inc as (select url, src node_id, dst nbr, etype from e
            union all
            select url, dst node_id, src nbr, etype from e),
    nb as (select i.url, i.node_id, i.etype, n.label nbr_label
           from inc i
           join {_t('nodes')} n
             on n.url = i.url and n.node_id = i.nbr and n.kind = 'TextRegion'),
    m as (select url, node_id, ({_SP_BITS})::bigint sp_mask, ({_CP_BITS})::bigint cp_mask
          from nb group by url, node_id)
    select n.url, n.node_id,
           coalesce(m.sp_mask, 0)::bigint sp_mask, coalesce(m.cp_mask, 0)::bigint cp_mask
    from {_t('nodes')} n
    left join m on m.url = n.url and m.node_id = n.node_id
    where n.kind = 'TextRegion'
"""
_STOP_SQL = ", ".join(f"'{m}'" for m in textstats.EN_STOPWORDS)

# Component SQL for the combined textstats_all oracle (token counting,
# language-ID, quality scoring, fingerprinting — joined on doc_id).
_TOKEN_COUNT_SQL = """
    select doc_id,
           len(string_split(text,' '))::bigint as n_tokens,
           list_sum(list_transform(string_split(text,' '),
                    t -> cast(ceil(length(t)/4.0) as int)))::bigint as n_subwords,
           length(text)::bigint as n_chars_seen
    from documents
"""
_LANGUAGE_ID_SQL = f"""
    with t as (select doc_id, string_split(text,' ') toks from documents),
    s as (select doc_id,
          len(list_filter(toks, x -> x in ({_MARKER_SQL['de']})))::bigint s_de,
          len(list_filter(toks, x -> x in ({_MARKER_SQL['en']})))::bigint s_en,
          len(list_filter(toks, x -> x in ({_MARKER_SQL['fi']})))::bigint s_fi,
          len(list_filter(toks, x -> x in ({_MARKER_SQL['fr']})))::bigint s_fr
          from t),
    x as (select doc_id, unnest([
            {{'lang': 'de', 's': s_de}}, {{'lang': 'en', 's': s_en}},
            {{'lang': 'fi', 's': s_fi}}, {{'lang': 'fr', 's': s_fr}}]) u from s),
    r as (select doc_id, u.lang lang, u.s s,
                 row_number() over (partition by doc_id order by u.s desc, u.lang asc) rn
          from x)
    select doc_id, lang as pred_lang, s::bigint as marker_hits from r where rn = 1
"""
_QUALITY_SQL = f"""
    with t as (select doc_id, string_split(text,' ') toks from documents),
    b as (select doc_id,
          len(toks)::bigint n_tokens,
          len(list_distinct(toks))::bigint n_distinct,
          len(list_filter(toks, x -> x in ({_STOP_SQL})))::bigint n_stop,
          round(list_sum(list_transform(toks, x -> length(x)))::double / len(toks), 6) mean_token_len
          from t)
    select doc_id, mean_token_len,
           round(n_distinct::double / n_tokens, 6) type_token_ratio,
           round(n_stop::double / n_tokens, 6) stopword_frac,
           round((3 * least(n_tokens, 100) * n_tokens
                  + 300 * n_distinct + 400 * n_stop)::double
                 / (1000.0 * n_tokens), 6) quality
    from b
"""
_FINGERPRINT_SQL = """
    select doc_id, md5(text) md5_text,
           md5(list_aggregate(list_sort(list_distinct(string_split(text,' '))),
                              'string_agg', ' ')) md5_normalized
    from documents
"""

_SHINGLE_CTE = """
with docs as (select doc_id, string_split(text,' ') toks from documents),
sh as (select doc_id, unnest(list_distinct(
         [toks[i]||' '||toks[i+1]||' '||toks[i+2] for i in range(1, len(toks)-1)])) as shingle
       from docs where len(toks) >= 3),
sizes as (select doc_id, count(*) sz from sh group by doc_id),
inter as (select a.doc_id doc_a, b.doc_id doc_b, count(*) n_inter
          from sh a join sh b using (shingle) where a.doc_id < b.doc_id
          group by 1, 2)
select doc_a, doc_b,
       round(n_inter::double / (sa.sz + sb.sz - n_inter), 6) as jaccard
from inter
join sizes sa on sa.doc_id = doc_a
join sizes sb on sb.doc_id = doc_b
where round(n_inter::double / (sa.sz + sb.sz - n_inter), 6) >= 0.7
"""

# ngram_jaccard_pairs oracle: mirrors the hot-shingle DF cap (default
# 1000) the Spark operator applies BEFORE its inverted-index self-join —
# shingles above the cap are dropped and set sizes recomputed post-drop,
# so the gate stays exact at any corpus scale, not only below the cap.
# minhash_lsh_pairs keeps the UNCAPPED plain-Jaccard oracle above (its
# per-candidate verify has no hot-key join to guard).
_SHINGLE_CAPPED_CTE = """
with docs as (select doc_id, string_split(text,' ') toks from documents),
sh0 as (select doc_id, unnest(list_distinct(
         [toks[i]||' '||toks[i+1]||' '||toks[i+2] for i in range(1, len(toks)-1)])) as shingle
       from docs where len(toks) >= 3),
hot as (select shingle from sh0 group by shingle having count(*) > 1000),
sh as (select * from sh0 anti join hot using (shingle)),
sizes as (select doc_id, count(*) sz from sh group by doc_id),
inter as (select a.doc_id doc_a, b.doc_id doc_b, count(*) n_inter
          from sh a join sh b using (shingle) where a.doc_id < b.doc_id
          group by 1, 2)
select doc_a, doc_b,
       round(n_inter::double / (sa.sz + sb.sz - n_inter), 6) as jaccard
from inter
join sizes sa on sa.doc_id = doc_a
join sizes sb on sb.doc_id = doc_b
where round(n_inter::double / (sa.sz + sb.sz - n_inter), 6) >= 0.7
"""

# dedup_clusters oracle: exact-Jaccard pairs (the same uncapped shingle
# computation minhash_lsh_pairs is gated against) -> transitive closure
# by recursive CTE -> min doc_id per component. DuckDB's recursive
# UNION deduplicates states, so the closure is finite and exact.
_DEDUP_CLUSTERS_SQL = """
with recursive docs_t as (select doc_id, string_split(text,' ') toks from documents),
sh as (select doc_id, unnest(list_distinct(
         [toks[i]||' '||toks[i+1]||' '||toks[i+2] for i in range(1, len(toks)-1)])) as shingle
       from docs_t where len(toks) >= 3),
sizes as (select doc_id, count(*) sz from sh group by doc_id),
inter as (select a.doc_id doc_a, b.doc_id doc_b, count(*) n_inter
          from sh a join sh b using (shingle) where a.doc_id < b.doc_id
          group by 1, 2),
pairs as (select doc_a, doc_b
          from inter
          join sizes sa on sa.doc_id = doc_a
          join sizes sb on sb.doc_id = doc_b
          where round(n_inter::double / (sa.sz + sb.sz - n_inter), 6) >= 0.7),
und as (select doc_a u, doc_b v from pairs union select doc_b, doc_a from pairs),
nodes as (select distinct u from und),
reach(u, v) as (
  select u, u from nodes
  union
  select r.u, e.v from reach r join und e on r.v = e.u
)
select u doc_id, min(v) component from reach group by u
"""

# dup_ngram_spans oracle: k=8 token windows with positions (gram keyed
# by the pinned 60-bit md5-prefix hash, mirroring the Spark side),
# corpus-wide occurrence count >= 2, per-doc gaps-and-islands merge
# (same contract as ops/dedup.duplicate_ngram_spans).
_DUP_SPANS_SQL = """
with t as (select doc_id, string_split(text,' ') toks from documents),
w as (select doc_id, u.pos pos, u.gram gram from (
   select doc_id, unnest([{'pos': i-1,
                           'gram': cast(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)) as ubigint)::bigint}
                          for i in range(1, len(toks)-6)]) u
   from t where len(toks) >= 8)),
d as (select *, count(*) over (partition by gram) c from w),
f as (select doc_id, pos from d where c >= 2),
g as (select doc_id, pos,
             case when pos - lag(pos) over (partition by doc_id order by pos) > 8
                  then 1 else 0 end brk from f),
s as (select doc_id, pos,
             sum(brk) over (partition by doc_id order by pos rows unbounded preceding) grp
      from g)
select doc_id, min(pos)::bigint start_tok, (max(pos)+7)::bigint end_tok,
       count(*)::bigint n_windows
from s group by doc_id, grp
"""

# repetition_stats oracle: Gopher-style within-doc repetition — the
# most frequent bigram's share of bigram occurrences, and the share of
# 5-gram occurrences whose gram repeats within the doc (ops/textstats.
# repetition_stats, top_n=2 / dup_n=5 defaults).
_REPETITION_SQL = """
with t as (select doc_id, string_split(text,' ') toks from documents),
g2 as (select doc_id, unnest([cast(('0x' || substr(md5(toks[i]||' '||toks[i+1]), 1, 15)) as ubigint)::bigint
                              for i in range(1, len(toks))]) gram
       from t where len(toks) >= 2),
c2 as (select doc_id, gram, count(*) c from g2 group by doc_id, gram),
top as (select doc_id, round(max(c)::double / sum(c), 6) top_ngram_frac from c2 group by doc_id),
g5 as (select doc_id, unnest([cast(('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15)) as ubigint)::bigint
                              for i in range(1, len(toks)-3)]) gram
       from t where len(toks) >= 5),
c5 as (select doc_id, gram, count(*) c from g5 group by doc_id, gram),
dup as (select doc_id,
               round(coalesce(sum(c) filter (where c > 1), 0)::double / sum(c), 6) dup_ngram_frac
        from c5 group by doc_id)
select t.doc_id, coalesce(top_ngram_frac, 0.0) top_ngram_frac,
       coalesce(dup_ngram_frac, 0.0) dup_ngram_frac
from t left join top on top.doc_id = t.doc_id
       left join dup on dup.doc_id = t.doc_id
"""

_SIMHASH_CTE = """
with tok as (select doc_id, unnest(string_split(text, ' ')) t from documents),
h as (select doc_id, cast(('0x' || substr(md5(t), 1, 15)) as ubigint)::bigint h from tok),
bits as (select doc_id, b,
                sum(case when (h >> b) & 1 = 1 then 1 else -1 end) s
         from h cross join (select unnest(range(60)) b) bb
         group by doc_id, b),
sig as (select doc_id,
               sum(case when s > 0 then (1::bigint << b) else 0 end)::bigint simhash
        from bits group by doc_id)
"""


def oracle_sql() -> dict[str, str]:
    return {
        # --- ground-truth sidecar oracles (tools/make_truth.py) ---
        "extract_full_text": f"select doc_id, full_text as extracted_text from {_t('docs')}",
        "fold_counts": f"select cast(fold as integer) fold, count(*) n from {_t('docs')} group by fold",
        "parse_nodes": f"""
            select doc_id, count(*) n_nodes, max(page_cnt)::bigint n_pages
            from {_t('nodes')} where kind = 'TextRegion' group by doc_id
        """,
        "extract_spans": f"""
            with ordered as (
                select doc_id, node_id, label, length(text) tl,
                       sum(length(text) + 1) over (
                           partition by url
                           order by page_num, y1, x1, node_id
                           rows unbounded preceding) cum
                from {_t('nodes')}
                where kind = 'TextRegion' and label in ('paragraph', 'heading')
            )
            select doc_id, node_id,
                   cast(cum - tl - 1 as integer) "start",
                   cast(cum - 1 as integer) "end",
                   label
            from ordered
        """,
        "edges_hist_modes": f"""
            select mode, etype, count(*) n
            from {_t('edges')} where mode in ('g1', 'g2', 'g1o', 'g1s')
            group by mode, etype
        """,
        "cluster_hulls": f"""
            select url, cluster_id::bigint cluster_id, n_nodes::bigint n_nodes,
                   hull_points
            from {_t('hulls')} where algo = 'cc'
        """,
        "extract_predicted_smoothed": f"""
            select doc_id, n_chars_extracted::int n_chars_extracted
            from {_t('pred_smoothed')}
        """,
        "box_cut_partition": f"""
            with b as (select url, page_num, x1, y1, y2, node_id from {_t('nodes')}
                       where kind = 'TextRegion'),
            o as (select *,
                         row_number() over (partition by url, page_num
                                            order by y1, y2, x1, node_id) rn,
                         max(y2) over (partition by url, page_num
                                       order by y1, y2, x1, node_id
                                       rows between unbounded preceding and 1 preceding) runmax
                  from b),
            g as (select url, page_num, rn - 1 n_above, (runmax + y1) / 2.0 cut_y
                  from o where rn > 1 and y1 > runmax),
            r as (select url, page_num,
                         (row_number() over (partition by url, page_num order by cut_y) - 1) cut_idx,
                         cut_y, n_above
                  from g),
            n as (select url, page_num, count(*) n_boxes from b group by url, page_num)
            select r.url, cast(r.page_num as integer) page_num,
                   cast(cut_idx as integer) cut_idx, cut_y,
                   n_above::bigint n_above, (n_boxes - n_above)::bigint n_below
            from r join n on n.url = r.url and n.page_num = r.page_num
        """,
        "cluster_cc_oracle": f"""
            select url, n_clusters from {_t('clusters')} where algo = 'cc'
        """,
        "cluster_agglo_oracle": f"""
            select url, n_clusters from {_t('clusters')} where algo = 'agglo'
        """,
        "dual_graph_sizes": f"select url, n_dual_edges from {_t('dual')}",
        "page_coverage": f"""
            select url, cast(page_num as integer) page_num,
                   round(sum((x2 - x1) * (y2 - y1)) / any_value(page_w * page_h), 6) coverage
            from {_t('nodes')} where kind = 'TextRegion' group by url, page_num
        """,
        "docs_per_host_salted": f"select host, count(*) n_docs from {_t('docs')} group by host",
        "node_label_hist": f"select label, count(*) n from {_t('nodes')} where kind = 'TextRegion' group by label",
        "multitype_node_hist": f"select kind, label, count(*) n from {_t('nodes')} group by kind, label",
        "bieso_row_tags": f"select bieso, count(*) n from {_t('bieso')} group by bieso",
        "edge_lcs_hist": f"""
            select etype, lcs2, count(*) n from {_t('edges')}
            where mode = 'g1' group by etype, lcs2
        """,
        "edges_cpm_per_doc": f"select url, count(*) n_cpm from {_t('edges')} where mode = 'cpm' group by url",
        "table_rows_detected": f"select table_id, n_rows::bigint n_rows, n_lines::bigint n_lines, row_f1 from {_t('tables')}",
        "node_geom_nopage": f"select * from {_t('geom_nopage')}",
        "neighbor_class_mask": _NBR_MASK_SQL,
        "neighbor_text_concat": f"""
            with e as (select * from {_t('edges')} where mode = 'g1'),
            inc as (select url, src node_id, dst nbr, etype from e
                    union all
                    select url, dst node_id, src nbr, etype from e),
            nb as (select i.url, i.node_id,
                          case i.etype when 'H' then 0 when 'V' then 1 else 2 end r,
                          n.page_num, n.y1, n.x1, n.node_id nid, n.text t
                   from inc i
                   join {_t('nodes')} n
                     on n.url = i.url and n.node_id = i.nbr and n.kind = 'TextRegion'),
            agg as (select url, node_id,
                           string_agg(t, ' ' order by r, page_num, y1, x1, nid) neighbor_text
                    from nb group by url, node_id)
            select n.url, n.node_id, coalesce(a.neighbor_text, '') neighbor_text
            from {_t('nodes')} n
            left join agg a on a.url = n.url and a.node_id = n.node_id
            where n.kind = 'TextRegion'
        """,
        "chi2_features": f"select feature, chi2 from {_t('chi2')}",
        "ecn_scores": f"""
            select url, n_scored::bigint n_scored, n_main_pred::bigint n_main_pred
            from {_t('ecn_scores')}
        """,
        "ann_lsh": f"select query_id, vec_id, cosine, rank from {_t('ann_lsh')}",
        "ann_ivf": f"select query_id, vec_id, cosine, rank from {_t('ann_ivf')}",
        # --- documents-table oracles ---
        "extract_main_text": "select doc_id, text as extracted_text from documents",
        "extract_via_sources": """
            select doc_id, text as extracted_text, s.source
            from documents, (select unnest(['json', 'dsxml', 'writeback']) source) s
        """,
        "textstats_all": f"""
            select tc.doc_id, tc.n_tokens, tc.n_subwords, tc.n_chars_seen,
                   li.pred_lang, li.marker_hits,
                   qs.mean_token_len, qs.type_token_ratio, qs.stopword_frac, qs.quality,
                   fp.md5_text, fp.md5_normalized
            from ({_TOKEN_COUNT_SQL}) tc
            join ({_LANGUAGE_ID_SQL}) li on li.doc_id = tc.doc_id
            join ({_QUALITY_SQL}) qs on qs.doc_id = tc.doc_id
            join ({_FINGERPRINT_SQL}) fp on fp.doc_id = tc.doc_id
        """,
        "tfidf_vocab": """
            with t as (select doc_id, lower(text) s, count(*) over () total
                       from documents),
            g as (select doc_id, total,
                         unnest(list_distinct([substr(s, i, 3)
                                for i in range(1, length(s) - 1)])) ngram
                  from t where length(s) >= 3),
            c as (select ngram, count(*) df, any_value(total) total
                  from g group by ngram
                  order by df desc, ngram asc limit 100)
            select ngram, df,
                   (row_number() over (order by df desc, ngram asc) - 1)::bigint idx,
                   round(ln((total + 1.0) / (df + 1.0)) + 1.0, 6) idf
            from c
        """,
        "exact_dedup": """
            select md5(text) h, min(doc_id) keep_doc_id, count(*) group_size
            from documents group by 1
        """,
        "ngram_jaccard_pairs": _SHINGLE_CAPPED_CTE,
        "minhash_lsh_pairs": _SHINGLE_CTE,
        "simhash": _SIMHASH_CTE + "select doc_id, simhash from sig",
        "simhash_near_pairs": _SIMHASH_CTE + """
            select a.doc_id doc_a, b.doc_id doc_b,
                   bit_count(xor(a.simhash, b.simhash))::bigint hamming
            from sig a join sig b on a.doc_id < b.doc_id
            where bit_count(xor(a.simhash, b.simhash)) <= 8
        """,
        "embedding_near_dups": """
            with e as (select vec_id, embedding::double[] v from embeddings)
            select a.vec_id vec_a, b.vec_id vec_b,
                   round(list_cosine_similarity(a.v, b.v), 6) cosine
            from e a join e b on a.vec_id < b.vec_id
            where round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
        """,
        "knn_bruteforce": """
            with e as (select vec_id, embedding::double[] v from embeddings),
            q as (select vec_id query_id, v qv from e order by vec_id limit 10),
            s as (select query_id, vec_id,
                         round(list_cosine_similarity(qv, v), 6) cosine
                  from q cross join e where vec_id != query_id),
            r as (select *, row_number() over
                         (partition by query_id order by cosine desc, vec_id asc) rank
                  from s)
            select query_id, vec_id, cosine, rank::bigint rank from r where rank <= 5
        """,
        "media_metadata": """
            select doc_id, octet_length(encode(text))::bigint n_bytes,
                   'image/x-fake' mime
            from documents
        """,
        "label_histogram": "select lang, count(*) n from documents group by lang",
        "class_weights": """
            with c as (select lang, count(*) c from documents group by lang),
            t as (select count(*) tot from documents),
            k as (select count(*) k from c),
            w as (select lang, tot::double / (k * c) w_raw from c, t, k),
            s as (select sum(w_raw) s from w)
            select lang, round(w_raw * k / s, 6) weight from w, k, s
        """,
        "token_df_topk": """
            with tok as (select doc_id, unnest(list_distinct(string_split(text,' '))) token
                         from documents)
            select token, count(*) df from tok group by token
            order by df desc, token asc limit 20
        """,
        "dedup_clusters": _DEDUP_CLUSTERS_SQL,
        "dup_ngram_spans": _DUP_SPANS_SQL,
        "repetition_stats": _REPETITION_SQL,
        # url_snapshot_dedup: expected canonical output stated directly
        # from doc_id — independent of the canonicalization regexes the
        # Spark side exercises. The messy variant (upper-case scheme and
        # host, :80, utm_ param, #fragment, trailing slash) must
        # collapse onto the clean '?q=1' form, which wins on warc_ts;
        # the query-less base url is its own singleton.
        "url_snapshot_dedup": """
            with d as (select doc_id,
                              'http://host' || (doc_id % 97) ||
                              '.example.org/d/' || doc_id as base
                       from documents)
            select base || '?q=1' canonical_url, base || '?q=1' kept_url,
                   doc_id + 200 kept_ts, 2::bigint n_snapshots
            from d
            union all
            select base, base, doc_id + 50, 1::bigint from d
        """,
        "revenue_by_nation": """
            select n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) revenue
            from lineitem
            join orders on l_orderkey = o_orderkey
            join customer on o_custkey = c_custkey
            join nation on c_nationkey = n_nationkey
            group by n_name
        """,
        "first_events_per_user": """
            with r as (select user_id, event_id, event_type,
                              row_number() over (partition by user_id
                                                 order by ts asc, event_id asc) rn
                       from events)
            select user_id, event_id, event_type, rn::bigint rn from r where rn <= 3
        """,
        "user_event_type_jaccard": """
            with s as (select user_id, list_distinct(list(event_type)) s
                       from events group by user_id)
            select a.user_id user_id,
                   round(len(list_intersect(a.s, b.s))::double
                         / len(list_distinct(list_concat(a.s, b.s))), 6) jaccard_next_user
            from s a join s b on b.user_id = a.user_id + 1
        """,
        "windowed_event_counts": """
            select time_bucket(interval '1 hour', ts) window_start, event_type,
                   count(*) n, round(sum(value), 6) sum_value
            from events group by 1, 2
        """,
        "user_sessions": """
            with flagged as (
                select user_id, event_id, ts,
                       case when lag(ts) over w is null
                              or epoch(ts) - epoch(lag(ts) over w) > 1800
                            then 1 else 0 end new_s
                from events window w as (partition by user_id order by ts, event_id)
            ),
            sess as (
                select user_id, ts,
                       cast(sum(new_s) over (partition by user_id
                            order by ts, event_id rows unbounded preceding) as integer)
                       session_id
                from flagged
            )
            select user_id, session_id, count(*) n_events,
                   min(ts) ts_start, max(ts) ts_end
            from sess group by user_id, session_id
        """,
    }
