"""Features -> model -> segmentation over the synthetic corpus."""

import pandas as pd
from pyspark.sql import functions as F

from transkribusdu_spark.pipeline.edges import build_edges
from transkribusdu_spark.pipeline.features import (
    EDGE_FEATURE_COLS,
    NODE_FEATURE_COLS,
    apply_quantile_binning,
    edge_features,
    fit_quantiles,
    node_features,
)
from transkribusdu_spark.pipeline.model import (
    edge_oracle_scores,
    predict_edges,
    predict_nodes,
    train_edge_classifier,
    train_node_classifier,
)
from transkribusdu_spark.pipeline.parse import parse_pages
from transkribusdu_spark.pipeline.segment import cluster_doc, connected_components
from transkribusdu_spark.synth import pages_from_documents


def _nodes_edges(spark, sf_dir):
    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    edges = build_edges(nodes)
    return nodes, edges


def test_node_features_ranges(spark, sf_dir):
    nodes, edges = _nodes_edges(spark, sf_dir)
    nf = node_features(nodes, edges)
    row = nf.select(*NODE_FEATURE_COLS).agg(
        *[F.min(c).alias(f"min_{c}") for c in ("nf_x1", "nf_y1", "nf_area")],
        *[F.max(c).alias(f"max_{c}") for c in ("nf_x2", "nf_y2", "nf_area")],
        F.max("nf_nV").alias("max_nv"),
    ).collect()[0]
    assert row["min_nf_x1"] >= 0.0 and row["max_nf_x2"] <= 1.0
    assert row["min_nf_y1"] >= 0.0 and row["max_nf_y2"] <= 1.0
    assert 0.0 < row["max_nf_area"] <= 1.0
    assert row["max_nv"] > 0  # vertical neighbours exist


def test_page_number_feature_is_digit(spark, sf_dir):
    nodes, _ = _nodes_edges(spark, sf_dir)
    nf = node_features(nodes)
    pn = nf.filter(F.col("label") == "page-number").agg(F.min("nf_is_digit")).collect()[0][0]
    assert pn == 1.0


def test_edge_features_and_quantiles(spark, sf_dir):
    nodes, edges = _nodes_edges(spark, sf_dir)
    ef = edge_features(edges, nodes)
    assert set(EDGE_FEATURE_COLS) <= set(ef.columns)
    splits = fit_quantiles(ef, ["ef_length", "ef_overlap"], n_bins=8)
    assert len(splits["ef_length"]) >= 3
    binned = apply_quantile_binning(ef, splits)
    mx = binned.agg(F.max("ef_length_q")).collect()[0][0]
    assert mx is not None and mx <= 8


def test_cluster_doc_unit():
    edges = pd.DataFrame(
        {"src": ["a", "b", "x"], "dst": ["b", "c", "y"], "p_continue": [1.0, 1.0, 0.2]}
    )
    got = cluster_doc(["a", "b", "c", "x", "y", "z"], edges, 0.5)
    assert got == [["a", "b", "c"], ["x"], ["y"], ["z"]]


def test_oracle_clustering_groups_same_label_runs(spark, sf_dir):
    nodes, edges = _nodes_edges(spark, sf_dir)
    ef = edge_features(edges, nodes)
    scores = edge_oracle_scores(ef)
    clusters = connected_components(nodes, scores, threshold=0.5)
    # every node appears in exactly one cluster
    memb = clusters.select("url", F.explode("node_ids").alias("node_id"))
    assert memb.count() == nodes.count()
    assert memb.distinct().count() == nodes.count()
    # with oracle scores, clusters are label-pure
    lab = memb.join(nodes.select("url", "node_id", "label"), ["url", "node_id"])
    purity = (
        lab.join(clusters.select("url", "cluster_id", F.explode("node_ids").alias("node_id")),
                 ["url", "node_id"])
        .groupBy("url", "cluster_id")
        .agg(F.countDistinct("label").alias("nl"))
        .agg(F.max("nl"))
        .collect()[0][0]
    )
    assert purity == 1


def test_trained_classifiers_beat_chance(spark, sf_dir):
    nodes, edges = _nodes_edges(spark, sf_dir)
    nf = node_features(nodes, edges).cache()
    model = train_node_classifier(nf)
    pred = predict_nodes(model, nf)
    from transkribusdu_spark.schemas import MAIN_CONTENT_LABELS

    acc_df = pred.withColumn(
        "gt", F.col("label").isin(list(MAIN_CONTENT_LABELS))
    ).withColumn("hit", (F.col("gt") == (F.col("pred_label") == "main")).cast("int"))
    acc = acc_df.agg(F.avg("hit")).collect()[0][0]
    assert acc > 0.9, f"node classifier accuracy {acc}"

    ef = edge_features(edges, nodes).cache()
    emodel = train_edge_classifier(ef)
    escores = predict_edges(emodel, ef)
    joined = escores.join(
        ef.select("url", "src", "dst",
                  (F.col("src_label") != F.col("dst_label")).cast("double").alias("y")),
        ["url", "src", "dst"],
    )
    eacc = joined.withColumn(
        "hit", ((F.col("p_break") > 0.5) == (F.col("y") == 1.0)).cast("int")
    ).agg(F.avg("hit")).collect()[0][0]
    assert eacc > 0.8, f"edge classifier accuracy {eacc}"


def test_split_cluster_columns_kernel():
    """C7 wired into region splitting: a two-column cluster splits at the
    widest whitespace gap with an exact max-margin separator; single
    columns and sub-threshold gaps stay whole."""
    from transkribusdu_spark.pipeline.segment import split_cluster_columns

    left = [(f"L{i}", 10.0, 50.0 * i, 300.0, 50.0 * i + 30) for i in range(4)]
    right = [(f"R{i}", 340.0, 50.0 * i, 600.0, 50.0 * i + 30) for i in range(4)]
    groups, sep = split_cluster_columns(left + right)
    assert groups == [sorted(m[0] for m in left), sorted(m[0] for m in right)]
    # the separator between two axis-aligned columns is the vertical line
    # through the gap midpoint, reported as (inf, x)
    assert sep == (float("inf"), 320.0)
    g1, s1 = split_cluster_columns(left)
    assert s1 is None and len(g1) == 1
    g2, s2 = split_cluster_columns(left + right, min_gap=100.0)
    assert s2 is None and len(g2) == 1


def test_split_clusters_doc_on_per_doc_pass(spark):
    """Map-only shape: a page whose one oracle cluster spans two columns
    is split in the per-document pass; the refined clusters keep every
    node exactly once."""
    from transkribusdu_spark.pipeline.perdoc import per_doc
    from transkribusdu_spark.pipeline.segment import oracle_clusters_doc, split_clusters_doc
    from transkribusdu_spark.schemas import CLUSTERS_SCHEMA

    boxes = []
    for i in range(3):
        boxes.append((f"L{i}", 10, 50 * i, 300, 50 * i + 30))
        boxes.append((f"R{i}", 340, 50 * i, 600, 50 * i + 30))
    regions = "".join(
        f'<TextRegion id="{nid}" custom="structure {{type:paragraph;}}">'
        f'<Coords points="{x1},{y1} {x2},{y1} {x2},{y2} {x1},{y2}"/></TextRegion>'
        for nid, x1, y1, x2, y2 in boxes)
    html = f'<PcGts><Page imageWidth="640" imageHeight="200">{regions}</Page></PcGts>'
    pages = spark.createDataFrame([("u1", bytearray(html.encode()))], "url string, html binary")

    def kernel(url, cols, status):
        # before the split, the six boxes are one oracle cluster
        assert oracle_clusters_doc(cols) == [sorted(b[0] for b in boxes)]
        groups = [[cols["node_id"][i] for i in g] for g in split_clusters_doc(cols)]
        k = len(groups)
        return dict(url=[url] * k, cluster_id=list(range(k)), node_ids=groups,
                    proba=[None] * k, algo=["cc"] * k)

    out = per_doc(CLUSTERS_SCHEMA, kernel, pages).orderBy("cluster_id").collect()
    assert len(out) == 2
    assert sorted(out[0].node_ids) == ["L0", "L1", "L2"]
    assert sorted(out[1].node_ids) == ["R0", "R1", "R2"]
    # node coverage is a partition of the original membership
    flat = sorted(n for r in out for n in r.node_ids)
    assert flat == sorted(b[0] for b in boxes)
