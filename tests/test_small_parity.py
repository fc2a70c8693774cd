"""Small parity operators: F1 enclosed TF-IDF, F18 standard scaler,
M10 label binarizer, P8 dedup guard, P9 output-file filter."""

import pytest
from pyspark.sql import functions as F

from transkribusdu_spark.pipeline.edgefeats import fit_edge_text_vocab
from transkribusdu_spark.pipeline.features import (
    apply_standard_scaler,
    fit_standard_scaler,
    fit_tfidf_vocab,
    label_binarize,
)
from transkribusdu_spark.pipeline.parse import dedup_guard, filter_output_files


def test_enclosed_tfidf_has_boundary_ngrams(spark):
    docs = spark.createDataFrame([("abc",), ("abd",)], "text string")
    vocab = fit_edge_text_vocab(docs, n=3, max_features=50)
    grams = {r.ngram for r in vocab.collect()}
    assert "{ab" in grams and "bc}" in grams  # start/end markers present
    plain = {r.ngram for r in fit_tfidf_vocab(docs, n=3, max_features=50).collect()}
    assert "{ab" not in plain


def test_standard_scaler_fit_apply(spark):
    df = spark.createDataFrame([(1.0,), (3.0,)], "x double")
    params = fit_standard_scaler(df, ["x"])
    mu, sd = params["x"]
    assert mu == 2.0 and sd == 1.0
    vals = sorted(r.x_std for r in apply_standard_scaler(df, params).collect())
    assert vals == [-1.0, 1.0]


def test_label_binarize_fixed_order(spark):
    df = spark.createDataFrame(
        [("a", "paragraph"), ("b", "page-number"), ("c", "weird")],
        "node_id string, label string",
    )
    out = {r.node_id: r for r in label_binarize(df).collect()}
    assert out["a"].y_paragraph == 1.0 and out["a"].y_cls == 0
    assert out["b"].y_page_number == 1.0 and out["b"].y_cls == 3
    assert out["c"].y_cls == -1  # unknown label -> sentinel


def test_dedup_guard(spark):
    nodes = spark.createDataFrame(
        [("u", "n1", "TextRegion"), ("u", "n1", "TextRegion"), ("u", "n1", "TextLine")],
        "url string, node_id string, kind string",
    )
    bad = dedup_guard(nodes).collect()
    assert len(bad) == 1 and bad[0].kind == "TextRegion" and bad[0].n == 2


def test_filter_output_files(spark):
    pages = spark.createDataFrame(
        [("https://h/doc/1.mpxml",), ("https://h/doc/1_du.mpxml",), ("https://h/doc/2_du",)],
        "url string",
    )
    kept = {r.url for r in filter_output_files(pages).collect()}
    assert kept == {"https://h/doc/1.mpxml"}


def test_constant_and_gt_leak_features(spark):
    from transkribusdu_spark.pipeline.features import (
        with_constant_feature,
        with_gt_leak_feature,
    )

    df = spark.createDataFrame([("a", "paragraph"), ("b", "other")], "node_id string, label string")
    out = {r.node_id: r for r in with_gt_leak_feature(with_constant_feature(df)).collect()}
    assert out["a"].nf_const == 1.0 and out["b"].nf_const == 1.0
    assert out["a"].nf_gt_leak == 1.0 and out["b"].nf_gt_leak == 0.0
