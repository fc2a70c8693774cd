"""Edge text + full geometry features and per-class feature shifting
(SURVEY.md §2.4 F7 / F13-LCS / F14-full / F15 / F16).

Reference semantics reproduced:
- LCS ratio lcs/(na+nb-lcs) between endpoint texts
  (``graph/Transformer_PageXml.py:594-618`` lcs_length; used at
  ``:492-534`` EdgeNumericalSelector).
- Neighbour text concat: per node, the space-joined text of all its
  H, then V, then CP neighbours
  (``graph/Transformer_PageXml.py:166-187``; the reference joins in
  edge-construction order, we canonicalize to reading order within
  each edge type so the result is partitioning-independent).
- Edge source/target char-ngram TF-IDF with {...} enclosure markers
  (``graph/Transformer_PageXml.py:335-354``,
  ``FeatureDefinition_Standard.py:296-330``).
- Full 21-column edge geometry selector
  (``FeatureDefinition_Standard.py:240-280`` Edge_Geometry.Selector),
  including the reference quirk where ``computeOverlapPosition``
  (``graph/Edge.py:147-166``) returns the overlap MIDPOINT as its
  first element — kept bit-faithful for parity.
- EdgeClassShifter: one feature block per edge class, 1-hot preserved
  (``FeatureDefinition_Standard.py:186-226``; expected matrices
  mirrored from its unit tests ``:382-554``).

Spark shape: everything except the LCS is declarative column algebra
(whole-stage codegen). The LCS is inherently a per-pair DP, so it runs
as an Arrow UDF (``F.arrow_udf``) with a numpy row-vectorized kernel —
O(len_a) vector ops per row of the DP instead of a Python inner loop.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EDGE_CLASSES = ("H", "V", "CP")

EDGE_GEOM21_COLS = [
    "eg_l", "eg_l_sq", "eg_lnh", "eg_lnh_sq", "eg_lnv", "eg_lnv_sq",
    "eg_ovrl", "eg_ovrl_sq", "eg_ovm", "eg_ovm_sq", "eg_iou", "eg_iou_sq",
    "eg_rovrl", "eg_rovrl_sq", "eg_space", "eg_space_sq", "eg_rovrl_per_l",
    "eg_pa", "eg_pa_sq", "eg_pb", "eg_pb_sq",
]


# ---------------------------------------------------------------------------
# F13: LCS ratio (numpy row-vectorized DP).
# ---------------------------------------------------------------------------
def lcs_length_np(a: str, b: str) -> int:
    """Longest common subsequence length; numpy DP, one vectorized row
    per character of the longer string (reference pure-Python DP:
    ``Transformer_PageXml.py:594-618``)."""
    na, nb = len(a), len(b)
    if nb < na:
        a, na, b, nb = b, nb, a, na
    if na == 0:
        return 0
    aa = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
    prev = np.zeros(na + 1, dtype=np.int32)
    for ch in b:
        cand = np.maximum(prev[1:], np.where(aa == ord(ch), prev[:-1] + 1, 0))
        np.maximum.accumulate(cand, out=cand)
        prev[1:] = cand
    return int(prev[-1])


def lcs_ratio_py(a: str, b: str) -> float:
    """lcs/(na+nb-lcs); 0 on empty (reference zero-div guard)."""
    na, nb = len(a or ""), len(b or "")
    lcs = lcs_length_np(a or "", b or "")
    denom = na + nb - lcs
    return float(lcs) / denom if denom > 0 else 0.0


@F.arrow_udf(T.DoubleType())
def _lcs_ratio_udf(sa: pa.Array, sb: pa.Array) -> pa.Array:
    return pa.array([lcs_ratio_py(x, y) for x, y in zip(sa.to_pylist(), sb.to_pylist())],
                    pa.float64())


def edge_text_features(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """edges + endpoint texts -> edges with ``ef_lcs_ratio`` (plus the
    src_text/dst_text columns for downstream TF-IDF). Equi-joins on
    (url, node_id) — co-partitioned with every other edge join."""
    t = nodes.select("url", "node_id", "text")
    e = (
        edges.join(
            t.select("url", F.col("node_id").alias("src"), F.col("text").alias("src_text")),
            ["url", "src"],
        ).join(
            t.select("url", F.col("node_id").alias("dst"), F.col("text").alias("dst_text")),
            ["url", "dst"],
        )
    )
    return e.withColumn("ef_lcs_ratio", _lcs_ratio_udf(F.col("src_text"), F.col("dst_text")))


# ---------------------------------------------------------------------------
# F7: neighbour text concat.
# ---------------------------------------------------------------------------
def neighbor_text_concat(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Per node: space-joined text of its neighbours, H then V then CP,
    each group in reading order (page, y1, x1, node_id). Nodes without
    neighbours get ''. One groupBy on (url, node_id)."""
    inc = edges.select(
        "url", F.col("src").alias("node_id"), F.col("dst").alias("nbr"), "etype"
    ).unionByName(
        edges.select("url", F.col("dst").alias("node_id"), F.col("src").alias("nbr"), "etype")
    )
    nbr_geo = nodes.select(
        "url", F.col("node_id").alias("nbr"), "page_num", "y1", "x1",
        F.coalesce("text", F.lit("")).alias("nbr_text"),
    )
    rank = (
        F.when(F.col("etype") == "H", F.lit(0))
        .when(F.col("etype") == "V", F.lit(1))
        .otherwise(F.lit(2))
    )
    agg = (
        inc.join(nbr_geo, ["url", "nbr"])
        .groupBy("url", "node_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        rank.alias("r"), F.col("page_num").alias("p"),
                        F.col("y1").alias("y"), F.col("x1").alias("x"),
                        F.col("nbr").alias("nid"), F.col("nbr_text").alias("t"),
                    )
                )
            ).alias("xs")
        )
        .select(
            "url", "node_id",
            F.array_join(F.transform("xs", lambda s: s["t"]), " ").alias("neighbor_text"),
        )
    )
    return (
        nodes.select("url", "node_id")
        .join(agg, ["url", "node_id"], "left")
        .fillna({"neighbor_text": ""})
    )


# ---------------------------------------------------------------------------
# F15: edge src/tgt TF-IDF (enclosed char-ngrams).
# ---------------------------------------------------------------------------
def _enclosed(nodes: DataFrame) -> DataFrame:
    return nodes.withColumn(
        "_enc", F.concat(F.lit("{"), F.coalesce("text", F.lit("")), F.lit("}"))
    )


def fit_edge_text_vocab(nodes: DataFrame, n: int = 3, max_features: int = 250) -> DataFrame:
    """Fit the char-ngram vocabulary over {}-enclosed node texts (F1, the
    reference's start/end marker trick, ``Transformer_PageXml.py:40-47``),
    so boundary n-grams become features."""
    from .features import fit_tfidf_vocab

    return fit_tfidf_vocab(_enclosed(nodes), n=n, max_features=max_features, text_col="_enc")


def edge_text_tfidf(edges: DataFrame, nodes: DataFrame, vocab: DataFrame, n: int = 3) -> DataFrame:
    """Edge src/tgt sparse TF-IDF: apply the fitted vocabulary to each
    endpoint's enclosed text, join both onto the edge (src_indices/
    src_values/tgt_indices/tgt_values). Node vectors are computed once
    and joined twice — never recomputed per edge."""
    from .features import apply_tfidf

    ntf = apply_tfidf(_enclosed(nodes), vocab, n=n, text_col="_enc")
    src = ntf.select(
        "url", F.col("node_id").alias("src"),
        F.col("indices").alias("src_indices"), F.col("values").alias("src_values"),
    )
    tgt = ntf.select(
        "url", F.col("node_id").alias("dst"),
        F.col("indices").alias("tgt_indices"), F.col("values").alias("tgt_values"),
    )
    return edges.join(src, ["url", "src"], "left").join(tgt, ["url", "dst"], "left")


# ---------------------------------------------------------------------------
# F14 full: 21-column edge geometry selector.
# ---------------------------------------------------------------------------
def edge_geometry21(edge_feats: DataFrame) -> DataFrame:
    """Adds the full Edge_Geometry.Selector columns. Expects the output
    of ``features.edge_features`` (endpoint boxes joined as sx1..dy2,
    s_page_w/s_page_h). CP edges carry zeros for the same-page-only
    features, as in the reference (CrossPageEdge has no length/overlap).

    Parity note: eg_ovm reproduces ``computeOverlapPosition``'s first
    return value, which is the overlap MIDPOINT coordinate (not the
    overlap length) whenever the overlap is positive (``graph/Edge.py:
    147-166`` returns ``(m, pA, pB)``) — downstream models only need a
    consistent signal, and parity beats prettiness."""
    c = F.col
    is_v, is_h = c("etype") == "V", c("etype") == "H"
    # overlap interval on the relevant axis (x for V, y for H)
    lo = F.when(is_v, F.greatest(c("sx1"), c("dx1"))).otherwise(F.greatest(c("sy1"), c("dy1")))
    hi = F.when(is_v, F.least(c("sx2"), c("dx2"))).otherwise(F.least(c("sy2"), c("dy2")))
    ovm_len = F.greatest(hi - lo, F.lit(0.0))
    m = (lo + hi) / 2.0
    a1 = F.when(is_v, c("sx1")).otherwise(c("sy1"))
    a2 = F.when(is_v, c("sx2")).otherwise(c("sy2"))
    b1 = F.when(is_v, c("dx1")).otherwise(c("dy1"))
    b2 = F.when(is_v, c("dx2")).otherwise(c("dy2"))
    same_page = is_v | is_h
    pa = F.when(same_page & (ovm_len > 0), (m + m - a1 - a2) / F.abs(a2 - a1)).otherwise(F.lit(0.0))
    pb = F.when(same_page & (ovm_len > 0), (m + m - b1 - b2) / F.abs(b2 - b1)).otherwise(F.lit(0.0))
    ovm = F.when(same_page & (ovm_len > 0), m).otherwise(F.lit(0.0))

    l = c("length")
    lnv = l / c("s_page_h")
    lnh = l / c("s_page_w")
    ovrl = c("overlap")
    iou = c("iou")
    rovrl = (ovrl + F.lit(0.001)) / (F.lit(0.001) + ovm)
    space = ovrl * l
    out = edge_feats
    exprs = {
        "eg_l": l, "eg_l_sq": l * l,
        "eg_lnh": lnh, "eg_lnh_sq": lnh * lnh,
        "eg_lnv": lnv, "eg_lnv_sq": lnv * lnv,
        "eg_ovrl": ovrl, "eg_ovrl_sq": ovrl * ovrl,
        "eg_ovm": ovm, "eg_ovm_sq": ovm * ovm,
        "eg_iou": iou, "eg_iou_sq": iou * iou,
        "eg_rovrl": rovrl, "eg_rovrl_sq": rovrl * rovrl,
        "eg_space": space, "eg_space_sq": space * space,
        "eg_rovrl_per_l": rovrl / F.greatest(l, F.lit(1.0)),
        "eg_pa": pa, "eg_pa_sq": pa * pa,
        "eg_pb": pb, "eg_pb_sq": pb * pb,
    }
    for name in EDGE_GEOM21_COLS:
        out = out.withColumn(name, exprs[name])
    return out


# ---------------------------------------------------------------------------
# F20: node aggregation of incident-edge features (reference
# NodeEdgeTransformer, ``graph/Transformer_PageXml.py:620-648``).
# ---------------------------------------------------------------------------
def node_edge_agg(
    nodes: DataFrame,
    edge_feats: DataFrame,
    feature_cols: list[str],
    agg_func: str = "sum",
) -> DataFrame:
    """Per node: aggregate (sum/mean/max) of each edge feature over the
    node's incident edges (both directions); nodes without edges get 0.
    Output columns ``ne_{agg}_{col}``."""
    fn = {"sum": F.sum, "mean": F.avg, "max": F.max}[agg_func]
    inc = edge_feats.select(
        "url", F.col("src").alias("node_id"), *feature_cols
    ).unionByName(edge_feats.select("url", F.col("dst").alias("node_id"), *feature_cols))
    out_cols = [f"ne_{agg_func}_{c}" for c in feature_cols]
    aggd = inc.groupBy("url", "node_id").agg(
        *[fn(F.col(c)).alias(o) for c, o in zip(feature_cols, out_cols)]
    )
    return (
        nodes.select("url", "node_id")
        .join(aggd, ["url", "node_id"], "left")
        .fillna({o: 0.0 for o in out_cols})
    )


# ---------------------------------------------------------------------------
# F16: per-edge-class feature shifting.
# ---------------------------------------------------------------------------
def edge_class_shift(
    df: DataFrame,
    feature_cols: list[str],
    classes: tuple[str, ...] = EDGE_CLASSES,
    etype_col: str = "etype",
) -> tuple[DataFrame, list[str]]:
    """One feature block per edge class: feature c of an edge of class k
    lands in column ``sf{k}_{c}``; all other class blocks are 0. The
    class 1-hot itself (ef_is_*) is NOT shifted — exactly the reference
    EdgeClassShifter layout. Returns (df, shifted_col_names)."""
    shifted: list[str] = []
    exprs = []
    for k, cls in enumerate(classes):
        is_k = F.col(etype_col) == cls
        for cname in feature_cols:
            out_name = f"sf{k}_{cname}"
            exprs.append(F.when(is_k, F.col(cname)).otherwise(F.lit(0.0)).alias(out_name))
            shifted.append(out_name)
    return df.select("*", *exprs), shifted


# ---------------------------------------------------------------------------
# F11 completion: page-number sequentiality edge features (reference
# Transformer_PageXml.py:402-445 + PageNumberSimpleSequenciality.py:24 —
# two texts are "in sequence" iff int(sA) + 1 == int(sB)).
# ---------------------------------------------------------------------------
def edge_sequentiality(edge_feats_with_text: DataFrame) -> DataFrame:
    """Adds ef_same_text, ef_seq_sp(_abs), ef_seq_cp(_abs). Expects the
    output of :func:`edge_text_features` (src_text/dst_text present).
    try_cast mirrors the reference's int() guard: non-integer texts are
    never 'in sequence'."""
    c = F.col
    n1 = c("src_text").try_cast("long")
    n2 = c("dst_text").try_cast("long")
    seq = (
        F.when((n1 + 1) == n2, F.lit(1.0))
        .when((n2 + 1) == n1, F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    same_page = c("etype") != "CP"
    return (
        edge_feats_with_text
        .withColumn("ef_same_text", (c("src_text") == c("dst_text")).cast("double"))
        .withColumn("ef_seq_sp", F.when(same_page, seq).otherwise(F.lit(0.0)))
        .withColumn("ef_seq_sp_abs", F.abs(c("ef_seq_sp")))
        .withColumn("ef_seq_cp", F.when(~same_page, seq).otherwise(F.lit(0.0)))
        .withColumn("ef_seq_cp_abs", F.abs(c("ef_seq_cp")))
    )
