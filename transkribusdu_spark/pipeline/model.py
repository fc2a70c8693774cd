"""Scoring models: node labeling + conjugate edge (continue/break) scoring.

Reference semantics (SURVEY.md §2.9): the CRF/ECN models are replaced —
per the north rule — by logistic models over the same features (the
reference's own baseline, M6: ``graph/GraphModel.py:324-390``,
``gcn/gcn_models.py:297-438``), plus the *edge oracle* mode (M8,
``tasks/DU_Task.py:813-818``): an edge is ``break`` iff its endpoint
labels differ — used to validate clustering independently of a trained
model, exactly as the reference does.

Spark-first: training is ``spark.ml`` LogisticRegression (distributed
L-BFGS over the executors); inference stays JVM-side (no Python).
Fitted coefficients are tiny and broadcast implicitly by the ML
transformer — the analogue of the reference's pickled-model load.

The deterministic learned path (closed-form diagonal LDA + fitted
Viterbi smoothing, last section) is instead two per-document Arrow
kernels: a fit whose statistics are summed in the JVM, and a
score-and-smooth kernel that runs inside the extraction pass.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.viterbi import viterbi_decode
from ..schemas import MAIN_CONTENT_LABELS
from .extract import _fused_ord_key
from .features import EDGE_FEATURE_COLS, NODE_FEATURE_COLS
from .perdoc import per_doc

# pyspark.ml is imported inside the spark.ml functions only: importing
# it costs ~0.5 s on a spark-submit driver (it compiles from Spark's
# source-only pyspark.zip), which every job importing this module (via
# api) paid, training or not.
if TYPE_CHECKING:
    from pyspark.ml.classification import LogisticRegressionModel


# ---------------------------------------------------------------------------
# Edge oracle (M8) — ground-truth edge labels from node labels.
# ---------------------------------------------------------------------------
def edge_oracle_scores(edge_feats: DataFrame) -> DataFrame:
    """p_break = 1 iff endpoint labels differ (reference
    ``GraphBinaryConjugateSegmenter.computeEdgeLabels``)."""
    brk = (F.col("src_label") != F.col("dst_label")).cast("double")
    return edge_feats.select(
        "url", "src", "dst",
        (F.lit(1.0) - brk).alias("p_continue"),
        brk.alias("p_break"),
    )


# ---------------------------------------------------------------------------
# Node classifier: main-content vs boilerplate (M6 over node features).
# ---------------------------------------------------------------------------
def _assemble(df: DataFrame, cols: list[str]) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=cols, outputCol="features", handleInvalid="keep").transform(df)


def train_node_classifier(node_feats: DataFrame, label_col: str = "label",
                          reg_param: float = 0.01) -> LogisticRegressionModel:
    """Binary main-content classifier trained on nf_* features with
    ground-truth labels (distributed fit; labels from the synthesizer
    play the role of the reference's annotated PageXML)."""
    from pyspark.ml.classification import LogisticRegression

    train = node_feats.withColumn(
        "y", F.col(label_col).isin(list(MAIN_CONTENT_LABELS)).cast("double")
    )
    train = _assemble(train, NODE_FEATURE_COLS)
    lr = LogisticRegression(featuresCol="features", labelCol="y", regParam=reg_param, maxIter=50)
    return lr.fit(train)


def predict_nodes(model: LogisticRegressionModel, node_feats: DataFrame) -> DataFrame:
    """JVM-side inference; emits predicted label + probability column
    (the reference's ``@DU_Y`` proba attribute analogue, P7)."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(_assemble(node_feats, NODE_FEATURE_COLS))
    return scored.withColumn(
        "pred_label",
        F.when(F.col("prediction") == 1.0, F.lit("main")).otherwise(F.lit("boilerplate")),
    ).withColumn("y_proba", vector_to_array(F.col("probability"))).drop(
        "features", "rawPrediction", "probability", "prediction"
    )


# ---------------------------------------------------------------------------
# Edge classifier: continue/break over ef_* features (conjugate mode).
# ---------------------------------------------------------------------------
def apply_atmostone(
    scored: DataFrame,
    label: str,
    proba_col: str,
    fallback: str = "other",
    pred_col: str = "pred_label",
    scope: tuple[str, ...] = ("url", "page_num"),
) -> DataFrame:
    """Hard logical constraint ATMOSTONE (reference M2 AD3+ constraints,
    ``graph/Graph.py:234-266``): within each scope (default: page), keep
    ``label`` only on the highest-probability node; demote the rest to
    ``fallback``. Declarative window argmax — no inference engine needed."""
    from pyspark.sql import Window

    # rank only within the constrained label's group per scope
    w = Window.partitionBy(*[F.col(c) for c in scope], F.col(pred_col)).orderBy(
        F.desc(proba_col), F.asc("node_id")
    )
    ranked = scored.withColumn(
        "_r", F.row_number().over(w)
    )
    return ranked.withColumn(
        pred_col,
        F.when((F.col(pred_col) == label) & (F.col("_r") > 1), F.lit(fallback)).otherwise(
            F.col(pred_col)
        ),
    ).drop("_r")


def apply_xor(
    scored: DataFrame,
    label: str,
    proba_col: str,
    fallback: str = "other",
    pred_col: str = "pred_label",
    scope: tuple[str, ...] = ("url", "page_num"),
) -> DataFrame:
    """Hard logical constraint XOR — EXACTLY one node carries ``label``
    per scope (reference M2 AD3+ constraint family, ``graph/Graph.py:
    234-266``): the highest-``proba_col`` node in the scope gets the
    label (even if the model preferred another one — the at-least-one
    half), every other candidate is demoted to ``fallback`` (the
    at-most-one half). Declarative window argmax, no inference engine."""
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in scope]).orderBy(
        F.desc(proba_col), F.asc("node_id")
    )
    ranked = scored.withColumn("_r", F.row_number().over(w))
    return ranked.withColumn(
        pred_col,
        F.when(F.col("_r") == 1, F.lit(label)).otherwise(
            F.when(F.col(pred_col) == label, F.lit(fallback)).otherwise(F.col(pred_col))
        ),
    ).drop("_r")


def train_edge_classifier(
    edge_feats: DataFrame,
    reg_param: float = 0.01,
    feature_cols: list[str] | None = None,
) -> LogisticRegressionModel:
    """Conjugate continue/break edge classifier. ``feature_cols`` defaults
    to the geometry set; pass geometry + ef_lcs_ratio + class-shifted
    blocks (pipeline/edgefeats.py) for the full reference feature space
    (F13/F16)."""
    from pyspark.ml.classification import LogisticRegression

    train = edge_feats.withColumn(
        "y", (F.col("src_label") != F.col("dst_label")).cast("double")
    )
    train = _assemble(train, feature_cols or EDGE_FEATURE_COLS)
    lr = LogisticRegression(featuresCol="features", labelCol="y", regParam=reg_param, maxIter=50)
    return lr.fit(train)


def predict_edges(
    model: LogisticRegressionModel,
    edge_feats: DataFrame,
    feature_cols: list[str] | None = None,
) -> DataFrame:
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(_assemble(edge_feats, feature_cols or EDGE_FEATURE_COLS))
    proba = vector_to_array(F.col("probability"))
    return scored.select(
        "url", "src", "dst",
        proba.getItem(0).alias("p_continue"),
        proba.getItem(1).alias("p_break"),
    )


# ---------------------------------------------------------------------------
# Deterministic learned path: a closed-form node classifier (diagonal LDA
# over integer-valued features) smoothed along reading order with fitted
# transitions. spark.ml L-BFGS is not bit-stable across partitionings, so
# the learned-extraction contract query uses THIS model: every fitted
# quantity derives from exact integer sums (per-class count/sum/sum of
# squares and reading-order bigram counts, all < 2^53), so the fit and
# the scores are bit-reproducible across engines, partition orders, and
# cluster sizes — hash-gateable against the independent single-node
# oracle (tools/make_truth.py mirrors the identical spec). Both halves
# are per-document kernels over the parsed columns, in the reading order
# of ``extract._fused_ord_key``: :func:`fit_lda_params` sums the
# per-document statistics in the JVM, and
# ``api.extract_documents_deterministic`` scores, smooths
# (:func:`smoothed_labels`) and extracts in one map-only pass.
# A *fitted* transition matrix is essential: a naive sticky prior assumes
# runs, but real layouts switch main/boilerplate at every page boundary,
# and a wrong prior makes smoothing strictly worse (measured: 278/500 ->
# 0/500 byte-identical).
# ---------------------------------------------------------------------------
# Integer-valued node features for the deterministic model, in the
# FIXED order the score expression sums them (float op order matters).
LDA_FEATURES = ("ld_chars", "ld_spaces", "ld_w", "ld_h")
LDA_CLASSES = ("boilerplate", "main")

# One row of per-document fit statistics: per class y (1 = main content)
# the node count, and per feature the sum and sum of squares; then the
# reading-order bigram counts t<y><y_next>.
_FIT_SCHEMA = T.StructType(
    [T.StructField(f"n{y}", T.LongType()) for y in (0, 1)]
    + [T.StructField(f"{k}{y}_{c}", T.DoubleType())
       for y in (0, 1) for c in LDA_FEATURES for k in "sq"]
    + [T.StructField(f"t{a}{b}", T.LongType()) for a in (0, 1) for b in (0, 1)]
)


def _lda_features(dc: dict) -> tuple[list[int], np.ndarray]:
    """One document's node indices in reading order and their
    ``LDA_FEATURES`` as a float64 [4, n] array in that order: code-point
    length, space count, width, height."""
    idx = sorted(range(len(dc["node_id"])), key=lambda i: _fused_ord_key(dc, i))
    txt = [dc["text"][i] or "" for i in idx]
    return idx, np.array([[float(len(t)) for t in txt],
                          [float(t.count(" ")) for t in txt],
                          [dc["x2"][i] - dc["x1"][i] for i in idx],
                          [dc["y2"][i] - dc["y1"][i] for i in idx]], dtype=np.float64)


def _fit_stats_doc(url: str, dc: dict | None, status: str) -> dict[str, list]:
    """Fit kernel: one ``_FIT_SCHEMA`` row per document with nodes."""
    if not dc or not dc["node_id"]:
        return {}
    idx, f = _lda_features(dc)
    y = np.array([dc["label"][i] in MAIN_CONTENT_LABELS for i in idx], dtype=np.int64)
    row: dict[str, list] = {}
    for k in (0, 1):
        fk = f[:, y == k]
        row[f"n{k}"] = [int(fk.shape[1])]
        for c, col in zip(LDA_FEATURES, fk):
            row[f"s{k}_{c}"] = [float(col.sum())]
            row[f"q{k}_{c}"] = [float((col * col).sum())]
    for a in (0, 1):
        for b in (0, 1):
            row[f"t{a}{b}"] = [int(np.sum((y[:-1] == a) & (y[1:] == b)))]
    return row


def lda_fit_stats(pages: DataFrame) -> DataFrame:
    """The fit pass: the per-document ``_FIT_SCHEMA`` rows of one
    ``per_doc`` pass over ``pages``, summed column by column in the JVM
    into one row."""
    stats = per_doc(_FIT_SCHEMA, _fit_stats_doc, pages)
    return stats.agg(*[F.sum(c).alias(c) for c in _FIT_SCHEMA.fieldNames()])


def fit_lda_params(pages: DataFrame) -> dict:
    """Closed-form fit from the one :func:`lda_fit_stats` row: per-feature
    weights w_f = (mu1_f - mu0_f) / (pooled_var_f + 1), intercept
    b = ln(n1/n0) - sum_f w_f * (mu1_f + mu0_f) / 2, and the add-one
    smoothed log transition matrix over ``LDA_CLASSES``. Returns
    ``{"w", "b", "log_trans"}``."""
    import math

    r = lda_fit_stats(pages).collect()[0]
    present = [y for y in (0, 1) if r[f"n{y}"]]
    if len(present) < 2:
        raise ValueError(
            "fit_lda_params needs both classes present (main-content and "
            f"non-main nodes); got only y={present}. A single-class corpus "
            "has no discriminative direction — filter upstream or use a "
            "prior-only classifier."
        )
    n0, n1 = float(r["n0"]), float(r["n1"])
    ws, mid = [], []
    for c in LDA_FEATURES:
        s0, s1 = float(r[f"s0_{c}"]), float(r[f"s1_{c}"])
        q = float(r[f"q0_{c}"]) + float(r[f"q1_{c}"])
        mu0, mu1 = s0 / n0, s1 / n1
        var = (q - s0 * mu0 - s1 * mu1) / (n0 + n1 - 2.0) + 1.0
        ws.append((mu1 - mu0) / var)
        mid.append((mu0 + mu1) / 2.0)
    b = math.log(n1 / n0)
    for w, m in zip(ws, mid):
        b = b - w * m
    counts = np.ones((2, 2))  # add-one smoothing
    for a in (0, 1):
        for a_next in (0, 1):
            counts[a, a_next] += r[f"t{a}{a_next}"]
    return {"w": ws, "b": b, "log_trans": np.log(counts / counts.sum(axis=1, keepdims=True))}


def smoothed_labels(dc: dict, params: dict) -> list[str]:
    """Score and smooth one document with nodes (C11 applied):
    z = f0*w0 + f1*w1 + f2*w2 + f3*w3 + b (fixed op order, mirrored
    bit-for-bit by the oracle), p_main = sigmoid(z), then a Viterbi
    decode of log(clip([1 - p, p])) along reading order against the
    fitted transitions. Returns each node's ``LDA_CLASSES`` label, in
    document order.

    Measured caveat (sf0.01 synthetic corpus): when the node classifier
    is already strong with near-independent errors, smoothing REDUCES
    document-perfect extraction (raw 278/500 vs learned-trans 153/500 vs
    sticky 0/500) — use it when per-node scores are noisy relative to
    layout transitions, not as a default post-process."""
    idx, f = _lda_features(dc)
    w, b = params["w"], params["b"]
    z = f[0] * w[0] + f[1] * w[1] + f[2] * w[2] + f[3] * w[3] + b
    p = 1.0 / (1.0 + np.exp(-z))
    proba = np.clip(np.stack([1.0 - p, p], axis=1), 1e-9, 1.0)
    path, _ = viterbi_decode(np.log(proba), params["log_trans"])
    labels = [""] * len(idx)
    for i, k in zip(idx, path):
        labels[i] = LDA_CLASSES[k]
    return labels
