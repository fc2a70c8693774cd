"""Feature extraction: vectorized node/edge features + distributed fits.

Reference features reproduced (SURVEY.md §2.4): page-normalized geometry
(F4/F5, ``graph/Transformer_PageXml.py:81-141``), text length/space
counts (F3, ``:67-77``), char-class one-hots (F8, ``:193-239``),
neighbour counts per edge type (F6, ``:144-164``), edge type one-hot +
geometry + alignment + IoU (F11/F12/F14,
``graph/FeatureDefinition_Standard.py:229-290``), quantile scaling
(F17, ``graph/Transformer.py:136-154``).

Spark-first: every feature below is a built-in column expression —
whole-stage codegen, zero Python. The reference computes these in numpy
per graph; the declarative form gives Catalyst the whole plan (pruning,
pushdown) and removes the Python boundary entirely. *Fitting* (the only
cross-document step) is a plain aggregation: quantile bin edges via
``approxQuantile`` applied with Spark ML ``Bucketizer`` (JVM-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ALIGN_EPS = 6.0  # ~1.5mm at 100dpi equivalent (reference 1.5mm epsilon, F12)

NODE_FEATURE_COLS = [
    "nf_x1", "nf_y1", "nf_x2", "nf_y2", "nf_w", "nf_h", "nf_area",
    "nf_cx", "nf_cy", "nf_even_page", "nf_p1", "nf_p2", "nf_p3plus",
    "nf_last_page", "nf_text_len", "nf_n_spaces", "nf_is_digit",
    "nf_is_title", "nf_frac_upper", "nf_frac_digit",
    "nf_nH", "nf_nV", "nf_nCP",
    # cross-document host-repetition signals (beyond the reference: the
    # single-process reference cannot see across documents; in Spark this
    # is one aggregation and it is THE classic boilerplate detector)
    "nf_host_rep", "nf_host_rep_frac",
]

# F8 completion (reference Node1HotFeatures, Transformer_PageXml.py:193-218):
# the remaining char-class predicates (ASCII-regex parity of Python
# str.isalnum/isalpha/islower/isupper) and the from-page-end one-hots
# (pnum - pagecnt clamped to {-2,-1,0}).
NODE_F8_EXTRA_COLS = [
    "nf_is_alnum", "nf_is_alpha", "nf_is_lower", "nf_is_upper",
    "nf_last2", "nf_earlier",
]
NODE_FEATURE_COLS_FULL = NODE_FEATURE_COLS + NODE_F8_EXTRA_COLS

EDGE_FEATURE_COLS = [
    "ef_is_h", "ef_is_v", "ef_is_cp", "ef_length", "ef_length_sq",
    "ef_length_norm", "ef_overlap", "ef_iou", "ef_align_left",
    "ef_align_right", "ef_align_center",
]


def node_features(nodes: DataFrame, edges: DataFrame | None = None) -> DataFrame:
    """nodes (+optional edges for neighbour counts) -> nodes with nf_* columns."""
    c = F.col
    txt = F.coalesce(c("text"), F.lit(""))
    n_upper = F.length(txt) - F.length(F.regexp_replace(txt, r"[A-Z]", ""))
    n_digit = F.length(txt) - F.length(F.regexp_replace(txt, r"[0-9]", ""))
    out = (
        nodes
        .withColumn("nf_x1", c("x1") / c("page_w"))
        .withColumn("nf_y1", c("y1") / c("page_h"))
        .withColumn("nf_x2", c("x2") / c("page_w"))
        .withColumn("nf_y2", c("y2") / c("page_h"))
        .withColumn("nf_w", (c("x2") - c("x1")) / c("page_w"))
        .withColumn("nf_h", (c("y2") - c("y1")) / c("page_h"))
        .withColumn("nf_area", ((c("x2") - c("x1")) * (c("y2") - c("y1"))) / (c("page_w") * c("page_h")))
        .withColumn("nf_cx", (c("x1") + c("x2")) / (F.lit(2.0) * c("page_w")))
        .withColumn("nf_cy", (c("y1") + c("y2")) / (F.lit(2.0) * c("page_h")))
        .withColumn("nf_even_page", (c("page_num") % 2 == 0).cast("double"))
        .withColumn("nf_p1", (c("page_num") == 1).cast("double"))
        .withColumn("nf_p2", (c("page_num") == 2).cast("double"))
        .withColumn("nf_p3plus", (c("page_num") >= 3).cast("double"))
        .withColumn("nf_last_page", (c("page_num") == c("page_cnt")).cast("double"))
        .withColumn("nf_text_len", F.length(txt).cast("double"))
        .withColumn("nf_n_spaces", (F.length(txt) - F.length(F.regexp_replace(txt, r" ", ""))).cast("double"))
        .withColumn("nf_is_digit", txt.rlike(r"^[0-9]+$").cast("double"))
        .withColumn("nf_is_title", txt.rlike(r"^([A-Z][a-z]*)( [A-Z][a-z]*)*$").cast("double"))
        .withColumn("nf_frac_upper", F.when(F.length(txt) > 0, n_upper / F.length(txt)).otherwise(F.lit(0.0)))
        .withColumn("nf_frac_digit", F.when(F.length(txt) > 0, n_digit / F.length(txt)).otherwise(F.lit(0.0)))
        # F8 completion (ASCII parity of Python str predicates)
        .withColumn("nf_is_alnum", txt.rlike(r"^[0-9A-Za-z]+$").cast("double"))
        .withColumn("nf_is_alpha", txt.rlike(r"^[A-Za-z]+$").cast("double"))
        .withColumn(
            "nf_is_lower",
            (txt.rlike(r"[a-z]") & ~txt.rlike(r"[A-Z]")).cast("double"),
        )
        .withColumn(
            "nf_is_upper",
            (txt.rlike(r"[A-Z]") & ~txt.rlike(r"[a-z]")).cast("double"),
        )
        .withColumn(
            "nf_last2", (c("page_num") - c("page_cnt") == -1).cast("double")
        )
        .withColumn(
            "nf_earlier", (c("page_num") - c("page_cnt") <= -2).cast("double")
        )
    )
    # Host-repetition: how many distinct documents of the same host carry
    # this exact node text (template/boilerplate repeats; unique content
    # doesn't). Two aggregations; the (host, text-hash) key is salted by
    # construction (hash) so hot hosts spread; AQE handles the rest.
    host = F.regexp_extract(F.col("url"), r"https?://([^/]+)/", 1)
    keyed = out.withColumn("_host", host).withColumn("_th", F.md5(txt))
    host_docs = keyed.groupBy("_host").agg(
        F.countDistinct("url").alias("_host_n")
    )
    rep = keyed.groupBy("_host", "_th").agg(
        F.countDistinct("url").alias("_rep")
    )
    out = (
        keyed.join(rep, ["_host", "_th"], "left")
        .join(host_docs, ["_host"], "left")
        .withColumn("nf_host_rep", F.log(F.col("_rep").cast("double") + 1.0))
        .withColumn(
            "nf_host_rep_frac",
            F.col("_rep").cast("double") / F.greatest(F.col("_host_n"), F.lit(1)).cast("double"),
        )
        .drop("_host", "_th", "_rep", "_host_n")
    )
    if edges is not None:
        # Neighbour counts per edge type (F6): undirected — count both
        # incident directions. groupBy + broadcast-sized join back.
        inc = edges.select("url", F.col("src").alias("node_id"), "etype").unionByName(
            edges.select("url", F.col("dst").alias("node_id"), "etype")
        )
        cnt = (
            inc.groupBy("url", "node_id")
            .agg(
                F.sum((F.col("etype") == "H").cast("int")).alias("nf_nH"),
                F.sum((F.col("etype") == "V").cast("int")).alias("nf_nV"),
                F.sum((F.col("etype") == "CP").cast("int")).alias("nf_nCP"),
            )
        )
        out = out.join(cnt, ["url", "node_id"], "left").fillna(
            {"nf_nH": 0, "nf_nV": 0, "nf_nCP": 0}
        )
        for cn in ("nf_nH", "nf_nV", "nf_nCP"):
            out = out.withColumn(cn, F.col(cn).cast("double"))
    else:
        for cn in ("nf_nH", "nf_nV", "nf_nCP"):
            out = out.withColumn(cn, F.lit(0.0))
    return out


def edge_features(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """edges joined to endpoint geometry -> edges with ef_* columns.

    The endpoint join is a plain equi-join on (url, node_id); at scale
    both sides are co-partitioned on url (the pipeline repartitions once
    upstream), so this shuffles at most once.
    """
    geo = nodes.select(
        "url", "node_id", "x1", "x2", "y1", "y2", "page_h", "page_w",
        F.col("label").alias("node_label"),
    )
    s = geo.select(
        "url", F.col("node_id").alias("src"),
        F.col("x1").alias("sx1"), F.col("x2").alias("sx2"),
        F.col("y1").alias("sy1"), F.col("y2").alias("sy2"),
        F.col("page_h").alias("s_page_h"), F.col("page_w").alias("s_page_w"),
        F.col("node_label").alias("src_label"),
    )
    d = geo.select(
        "url", F.col("node_id").alias("dst"),
        F.col("x1").alias("dx1"), F.col("x2").alias("dx2"),
        F.col("y1").alias("dy1"), F.col("y2").alias("dy2"),
        F.col("node_label").alias("dst_label"),
    )
    e = edges.join(s, ["url", "src"]).join(d, ["url", "dst"])
    c = F.col
    return (
        e.withColumn("ef_is_h", (c("etype") == "H").cast("double"))
        .withColumn("ef_is_v", (c("etype") == "V").cast("double"))
        .withColumn("ef_is_cp", (c("etype") == "CP").cast("double"))
        .withColumn("ef_length", c("length"))
        .withColumn("ef_length_sq", c("length") * c("length"))
        .withColumn("ef_length_norm", c("length") / c("s_page_h"))
        .withColumn("ef_overlap", c("overlap"))
        .withColumn("ef_iou", c("iou"))
        .withColumn("ef_align_left", (F.abs(c("sx1") - c("dx1")) < ALIGN_EPS).cast("double"))
        .withColumn("ef_align_right", (F.abs(c("sx2") - c("dx2")) < ALIGN_EPS).cast("double"))
        .withColumn(
            "ef_align_center",
            (F.abs((c("sx1") + c("sx2")) - (c("dx1") + c("dx2"))) < 2 * ALIGN_EPS).cast("double"),
        )
    )


def with_constant_feature(df: DataFrame) -> DataFrame:
    """F10 constant-1 feature (reference Node_Transformer_Constant /
    Edge_1, ``FeatureDefinition_Standard.py:141-157``): a bias column
    for models without an intercept term."""
    return df.withColumn("nf_const", F.lit(1.0))


def with_gt_leak_feature(df: DataFrame, label_col: str = "label") -> DataFrame:
    """F9 ground-truth-leak feature (reference's optional sanity/debug
    channel, SURVEY §2.4): expose the label as a feature so a sanity run
    can verify the learner reaches ~100% — NEVER for real training."""
    from ..schemas import MAIN_CONTENT_LABELS

    return df.withColumn(
        "nf_gt_leak", F.col(label_col).isin(list(MAIN_CONTENT_LABELS)).cast("double")
    )


NOPAGE_GEOM_COLS = [
    "ng_x1", "ng_x2", "ng_x1_sq", "ng_x2_sq",
    "ng_y1", "ng_y2", "ng_y1_sq", "ng_y2_sq",
    "ng_w", "ng_h", "ng_w_sq", "ng_h_sq",
]


def node_geom_nopage(nodes: DataFrame) -> DataFrame:
    """F5 page-free geometry (reference NodeTransformerXYWH_NoPage,
    ``Transformer_PageXml.py:106-141``): coordinates normalized by the
    DOCUMENT's max x2/y2 (not the page size), widths/heights by the
    document's mean width/height — one groupBy(url) aggregate joined
    back (the reference computes per graph; a graph is one document)."""
    c = F.col
    stats = nodes.groupBy("url").agg(
        F.max("x2").alias("_mx"), F.max("y2").alias("_my"),
        F.avg(c("x2") - c("x1")).alias("_mw"), F.avg(c("y2") - c("y1")).alias("_mh"),
    )
    j = nodes.join(stats, "url")
    x1n, x2n = c("x1") / c("_mx"), c("x2") / c("_mx")
    y1n, y2n = c("y1") / c("_my"), c("y2") / c("_my")
    wn = (c("x2") - c("x1")) / c("_mw")
    hn = (c("y2") - c("y1")) / c("_mh")
    exprs = {
        "ng_x1": x1n, "ng_x2": x2n, "ng_x1_sq": x1n * x1n, "ng_x2_sq": x2n * x2n,
        "ng_y1": y1n, "ng_y2": y2n, "ng_y1_sq": y1n * y1n, "ng_y2_sq": y2n * y2n,
        "ng_w": wn, "ng_h": hn, "ng_w_sq": wn * wn, "ng_h_sq": hn * hn,
    }
    for name in NOPAGE_GEOM_COLS:
        j = j.withColumn(name, exprs[name])
    return j.drop("_mx", "_my", "_mw", "_mh")


def neighbor_class_mask(nodes: DataFrame, edges: DataFrame,
                        labels: tuple[str, ...] | None = None) -> DataFrame:
    """J10 neighbour-class mask (reference ``graph/Graph.py:376-393``):
    per node, one boolean per label for same-page neighbours and one per
    label for cross-page neighbours. Bit-encoded into two longs (bit i =
    label i in ``labels`` order) so the mask is hashable/verifiable."""
    from ..schemas import ALL_LABELS

    labs = list(labels) if labels is not None else list(ALL_LABELS)
    nbr_lab = nodes.select(
        "url", F.col("node_id").alias("nbr"), F.col("label").alias("nbr_label")
    )
    inc = edges.select(
        "url", F.col("src").alias("node_id"), F.col("dst").alias("nbr"), "etype"
    ).unionByName(
        edges.select("url", F.col("dst").alias("node_id"), F.col("src").alias("nbr"), "etype")
    ).join(nbr_lab, ["url", "nbr"])
    same = F.col("etype") != "CP"
    aggs = []
    for i, lab in enumerate(labs):
        hit = (F.col("nbr_label") == lab).cast("long")
        aggs.append((F.max(F.when(same, hit).otherwise(0)) * (1 << i)).alias(f"_sp{i}"))
        aggs.append((F.max(F.when(~same, hit).otherwise(0)) * (1 << i)).alias(f"_cp{i}"))
    m = inc.groupBy("url", "node_id").agg(*aggs)
    sp = sum([F.col(f"_sp{i}") for i in range(1, len(labs))], F.col("_sp0"))
    cp = sum([F.col(f"_cp{i}") for i in range(1, len(labs))], F.col("_cp0"))
    m = m.select("url", "node_id", sp.alias("sp_mask"), cp.alias("cp_mask"))
    return (
        nodes.select("url", "node_id")
        .join(m, ["url", "node_id"], "left")
        .fillna({"sp_mask": 0, "cp_mask": 0})
    )


def fit_tfidf_vocab(nodes: DataFrame, n: int = 3, max_features: int = 500,
                    text_col: str = "text") -> DataFrame:
    """F2/A4: character n-gram document-frequency vocabulary fit with a
    deterministic tie-break (df desc, ngram asc) — the reference's
    TfidfVectorizer fit re-expressed as explode -> groupBy -> top-K.
    Returns (ngram, idx, df, idf); tiny, broadcastable. The {}-enclosed
    form (F1) is :func:`.edgefeats.fit_edge_text_vocab`."""
    total = nodes.count()
    toks = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    grams = F.when(
        F.length(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(toks) - n + 1),
                lambda i: F.lower(F.col(text_col)).substr(i, F.lit(n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    df_counts = (
        nodes.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("ngram"))
        .limit(max_features)
    )
    from pyspark.sql import Window

    win = Window.orderBy(F.desc("df"), F.asc("ngram"))
    return df_counts.withColumn(
        "idx", (F.row_number().over(win) - 1).cast("long")
    ).withColumn(
        "idf", F.round(F.log((F.lit(total) + 1.0) / (F.col("df") + 1.0)) + 1.0, 6)
    )


def apply_tfidf(nodes: DataFrame, vocab: DataFrame, n: int = 3,
                text_col: str = "text") -> DataFrame:
    """Apply a fitted vocabulary: per node, sparse tf-idf as
    (url, node_id, indices array<int>, values array<double>).
    Broadcast join on ngram; groupBy assembles the sparse vector."""
    grams = F.when(
        F.length(F.coalesce(F.col(text_col), F.lit(""))) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(F.col(text_col)) - n + 1),
            lambda i: F.lower(F.col(text_col)).substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = nodes.select("url", "node_id", F.explode(grams).alias("ngram"))
    tf = exploded.groupBy("url", "node_id", "ngram").agg(F.count("*").alias("tf"))
    joined = tf.join(F.broadcast(vocab), "ngram")
    pairs = joined.select(
        "url", "node_id",
        F.struct(F.col("idx"), (F.col("tf") * F.col("idf")).alias("v")).alias("p"),
    )
    return (
        pairs.groupBy("url", "node_id")
        .agg(F.array_sort(F.collect_list("p")).alias("ps"))
        .select(
            "url", "node_id",
            F.transform("ps", lambda p: p["idx"]).alias("indices"),
            F.transform("ps", lambda p: F.round(p["v"], 6)).alias("values"),
        )
    )


def fit_standard_scaler(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """F18 legacy standard scaling (reference ``graph/Transformer.py``
    StandardScaler usage): one distributed pass for per-column
    (mean, stddev_pop); returns the fitted params (tiny, broadcastable)."""
    row = df.agg(
        *[F.avg(c).alias(f"mu_{c}") for c in cols],
        *[F.stddev_pop(c).alias(f"sd_{c}") for c in cols],
    ).collect()[0]
    return {
        c: (float(row[f"mu_{c}"] or 0.0), max(float(row[f"sd_{c}"] or 0.0), 1e-12))
        for c in cols
    }


def apply_standard_scaler(df: DataFrame, params: dict[str, tuple[float, float]],
                          suffix: str = "_std") -> DataFrame:
    """Apply fitted standardization as column expressions (JVM-side)."""
    for c, (mu, sd) in params.items():
        df = df.withColumn(f"{c}{suffix}", (F.col(c) - F.lit(mu)) / F.lit(sd))
    return df


def label_binarize(nodes: DataFrame, labels: tuple[str, ...] | None = None,
                   label_col: str = "label") -> DataFrame:
    """M10 label binarizer (reference wraps sklearn LabelBinarizer):
    one 0/1 column per label in a FIXED label order (schemas.ALL_LABELS
    by default) plus the integer class index — declarative, no fit
    needed because the label space is closed."""
    from ..schemas import ALL_LABELS

    labs = list(labels) if labels is not None else list(ALL_LABELS)
    out = nodes
    for lab in labs:
        safe = lab.replace("-", "_")
        out = out.withColumn(f"y_{safe}", (F.col(label_col) == lab).cast("double"))
    idx = F.lit(-1)
    for i in range(len(labs) - 1, -1, -1):
        idx = F.when(F.col(label_col) == labs[i], F.lit(i)).otherwise(idx)
    return out.withColumn("y_cls", idx.cast("int"))


def fit_quantiles(df: DataFrame, cols: list[str], n_bins: int = 16,
                  relative_error: float = 0.001) -> dict[str, list[float]]:
    """Distributed quantile fit (F17): one pass, Greenwald-Khanna sketch
    (``approxQuantile``) — the scalable analogue of the reference's
    in-memory percentile fit. Returns Bucketizer-ready splits per column."""
    probs = [i / n_bins for i in range(1, n_bins)]
    qs = df.approxQuantile(cols, probs, relative_error)
    out: dict[str, list[float]] = {}
    for col, q in zip(cols, qs):
        # strictly increasing splits with +-inf rails
        splits, prev = [float("-inf")], None
        for v in q:
            if prev is None or v > prev:
                splits.append(float(v))
                prev = v
        splits.append(float("inf"))
        out[col] = splits
    return out


def apply_quantile_binning(df: DataFrame, splits: dict[str, list[float]]) -> DataFrame:
    """Apply fitted bins JVM-side via Spark ML Bucketizer (multi-column)."""
    from pyspark.ml.feature import Bucketizer

    cols = list(splits)
    buck = Bucketizer(
        inputCols=cols,
        outputCols=[f"{c}_q" for c in cols],
        splitsArray=[splits[c] for c in cols],
        handleInvalid="keep",
    )
    return buck.transform(df)
