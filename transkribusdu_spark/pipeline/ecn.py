"""ECN-style graph scorer + distributed trainer (SURVEY.md §2.9 M4).

The reference's EdgeConvNet (``gcn/gcn_models.py:440-1515``) computes,
per layer, FW = F.Wᵀ+b plus per-edge-channel sparse message passing
S.diag(cw).Tᵀ.H, trained with TF1 Adam (``gcn/gcn_models.py:258-296``).
Re-expressed Spark-first:

- *Inference* (:func:`ecn_score`): per-document numpy forward pass
  (dense matmuls + neighbour segment-sums) in one Arrow kernel call per
  url-cogrouped document (:func:`.perdoc.per_url`), weights broadcast
  by closure.
- *Training* (:func:`train_ecn`): distributed full-batch gradient
  descent — each epoch computes per-document gradients with a numpy
  backprop in the same cogrouped shape, sums them with a posexplode +
  groupBy(pos) aggregation (one O(n_params)-row collect per epoch,
  n_params ~ 700), and applies an Adam step on the driver. The data
  never leaves the executors; only gradient vectors do — the classic
  parameter-server-on-the-driver shape, sized for tiny parameter
  vectors and arbitrarily large corpora.
"""

from __future__ import annotations

from typing import Mapping

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .perdoc import per_url

SCORES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("node_id", T.StringType(), False),
        T.StructField("y_proba", T.ArrayType(T.DoubleType(), False), False),
    ]
)


ETYPE_IDX = {"H": 0, "V": 1, "CP": 2, "CPM": 2}


def init_weights(n_features: int, n_hidden: int, n_classes: int,
                 n_layers: int = 2, seed: int = 42, n_etypes: int = 0) -> dict:
    """Deterministic Glorot-ish init (a stand-in for trained weights;
    same shapes the reference's ECN would produce). ``n_etypes > 0``
    adds one message matrix per edge class per layer — the actual
    edge-CONDITIONED convolution (reference per-edge-channel
    S.diag(cw).T'.H, ``gcn/gcn_models.py:440-530``); 0 keeps the
    type-agnostic mean-message form."""
    rng = np.random.default_rng([seed, n_features, n_hidden, n_classes, n_etypes])
    dims = [n_features] + [n_hidden] * n_layers
    ws, wes = [], []
    for i in range(n_layers):
        lim = float(np.sqrt(6.0 / (dims[i] + dims[i + 1])))
        ws.append(rng.uniform(-lim, lim, size=(dims[i], dims[i + 1])).tolist())
        if n_etypes:
            wes.append(
                [rng.uniform(-lim, lim, size=(dims[i], dims[i + 1])).tolist()
                 for _ in range(n_etypes)]
            )
    lim = float(np.sqrt(6.0 / (dims[-1] + n_classes)))
    w_out = rng.uniform(-lim, lim, size=(dims[-1], n_classes)).tolist()
    out = {"ws": ws, "w_out": w_out}
    if n_etypes:
        out["wes"] = wes
    return out


def _scale(nf: np.ndarray, weights: dict) -> np.ndarray:
    """Apply the fitted standardizer carried in the weights (reference
    ECN pipelines standardize node features before the net; without it
    wide-range features like text length stall training)."""
    if "mu" in weights:
        return (nf - np.asarray(weights["mu"])) / np.asarray(weights["sigma"])
    return nf


def _forward(nf: np.ndarray, src: np.ndarray, dst: np.ndarray, weights: dict,
             e_cls: np.ndarray | None = None) -> np.ndarray:
    """One document: node features [N,F], edge index arrays -> class
    probabilities [N,K]. Message passing = mean over in/out neighbors
    (segment-sum via np.add.at), relu between layers. With "wes" in the
    weights and ``e_cls`` (per-edge class index), messages go through a
    PER-EDGE-CLASS matrix — the edge-conditioned convolution."""
    h = _scale(nf, weights)
    deg = np.zeros(len(nf))
    np.add.at(deg, src, 1.0)
    np.add.at(deg, dst, 1.0)
    deg = np.maximum(deg, 1.0)
    wes = weights.get("wes")
    for li, w in enumerate(weights["ws"]):
        w = np.asarray(w)
        hw = h @ w
        msg = np.zeros_like(hw)
        if wes is not None and e_cls is not None:
            for c, wc in enumerate(wes[li]):
                m = e_cls == c
                if not m.any():
                    continue
                zc = h @ np.asarray(wc)
                np.add.at(msg, dst[m], zc[src[m]])
                np.add.at(msg, src[m], zc[dst[m]])
        else:
            np.add.at(msg, dst, hw[src])
            np.add.at(msg, src, hw[dst])
        h = np.maximum(hw + msg / deg[:, None], 0.0)
    logits = h @ np.asarray(weights["w_out"])
    logits -= logits.max(axis=1, keepdims=True)
    e = np.exp(logits)
    return e / e.sum(axis=1, keepdims=True)


def _doc_graph(n: Mapping[str, np.ndarray], e: Mapping[str, np.ndarray],
               feature_cols: list[str]):
    """One document's graph from its node and edge columns: node ids,
    the [N,F] feature matrix and, over the edges whose both ends are
    nodes of the document, src/dst node positions and edge classes."""
    ids = n["node_id"]
    idx = {nid: i for i, nid in enumerate(ids)}
    nf = np.column_stack([n[c] for c in feature_cols]).astype(np.float64)
    triples = np.array([
        (idx[s], idx[d], ETYPE_IDX.get(t, 2))
        for s, d, t in zip(e["src"], e["dst"], e["etype"])
        if s in idx and d in idx
    ], dtype=np.int64).reshape(-1, 3)
    return ids, nf, triples[:, 0], triples[:, 1], triples[:, 2]


def ecn_score(nodes_feats: DataFrame, edges: DataFrame, weights: dict,
              feature_cols: list[str]) -> DataFrame:
    """Distributed ECN inference: co-group node features and edges per
    url, run the numpy forward pass, emit per-node class probabilities.
    ``weights`` is broadcast by closure capture (tiny)."""
    conditioned = "wes" in weights and "gat_ws" not in weights
    fwd = _gat_forward if "gat_ws" in weights else _forward

    def run(n: Mapping[str, np.ndarray], e: Mapping[str, np.ndarray]) -> dict:
        ids, nf, src, dst, e_cls = _doc_graph(n, e, feature_cols)
        proba = fwd(nf, src, dst, weights, e_cls if conditioned else None)
        return {"url": n["url"], "node_id": ids,
                "y_proba": [np.round(p, 6).tolist() for p in proba]}

    return per_url(
        SCORES_SCHEMA, run,
        nodes_feats.select("url", "node_id", *feature_cols),
        edges.select("url", "src", "dst", "etype"),
    )


# ---------------------------------------------------------------------------
# Distributed training.
# ---------------------------------------------------------------------------
def _shapes(n_features: int, n_hidden: int, n_classes: int, n_layers: int,
            n_etypes: int = 0):
    """Flat parameter layout: per layer W_self then the per-edge-class
    message matrices (if any); w_out last."""
    dims = [n_features] + [n_hidden] * n_layers
    out = []
    for i in range(n_layers):
        out.append((dims[i], dims[i + 1]))
        out.extend([(dims[i], dims[i + 1])] * n_etypes)
    out.append((dims[-1], n_classes))
    return out


def _flatten(weights: dict) -> np.ndarray:
    wes = weights.get("wes")
    parts = []
    for li, w in enumerate(weights["ws"]):
        parts.append(np.asarray(w).ravel())
        if wes is not None:
            parts.extend(np.asarray(wc).ravel() for wc in wes[li])
    parts.append(np.asarray(weights["w_out"]).ravel())
    return np.concatenate(parts)


def _unflatten(vec: np.ndarray, shapes: list[tuple[int, int]], n_layers: int | None = None,
               n_etypes: int = 0) -> dict:
    if n_layers is None:
        n_layers = (len(shapes) - 1) // (1 + n_etypes)
    mats, off = [], 0
    for r, c in shapes:
        mats.append(vec[off : off + r * c].reshape(r, c).tolist())
        off += r * c
    per_layer = 1 + n_etypes
    ws, wes = [], []
    for li in range(n_layers):
        blk = mats[li * per_layer : (li + 1) * per_layer]
        ws.append(blk[0])
        if n_etypes:
            wes.append(blk[1:])
    out = {"ws": ws, "w_out": mats[-1]}
    if n_etypes:
        out["wes"] = wes
    return out


def _doc_grad(nf: np.ndarray, src: np.ndarray, dst: np.ndarray, y: np.ndarray,
              weights: dict, e_cls: np.ndarray | None = None) -> tuple[np.ndarray, float, int]:
    """Forward + backprop for one document. Returns (flat grad summed
    over nodes, summed CE loss, n_nodes). Mirrors :func:`_forward`,
    including the edge-conditioned message matrices when present."""
    nf = _scale(nf, weights)
    n = len(nf)
    deg = np.zeros(n)
    np.add.at(deg, src, 1.0)
    np.add.at(deg, dst, 1.0)
    deg = np.maximum(deg, 1.0)
    wes = weights.get("wes")
    n_etypes = len(wes[0]) if wes else 0
    cls_masks = [e_cls == c for c in range(n_etypes)] if n_etypes else []

    hs, acts = [nf], []
    h = nf
    for li, w in enumerate(weights["ws"]):
        w = np.asarray(w)
        z = h @ w
        msg = np.zeros_like(z)
        if n_etypes:
            for c, m in enumerate(cls_masks):
                if not m.any():
                    continue
                zc = h @ np.asarray(wes[li][c])
                np.add.at(msg, dst[m], zc[src[m]])
                np.add.at(msg, src[m], zc[dst[m]])
        else:
            np.add.at(msg, dst, z[src])
            np.add.at(msg, src, z[dst])
        a = z + msg / deg[:, None]
        h = np.maximum(a, 0.0)
        acts.append(a)
        hs.append(h)
    w_out = np.asarray(weights["w_out"])
    logits = h @ w_out
    logits -= logits.max(axis=1, keepdims=True)
    e = np.exp(logits)
    p = e / e.sum(axis=1, keepdims=True)
    onehot = np.zeros_like(p)
    onehot[np.arange(n), y] = 1.0
    loss = float(-np.log(np.clip(p[np.arange(n), y], 1e-12, 1.0)).sum())

    dlogits = p - onehot  # summed (not averaged) — driver divides by N
    g_wout = hs[-1].T @ dlogits
    dh = dlogits @ w_out.T
    n_layers = len(weights["ws"])
    g_ws: list = [None] * n_layers
    g_wes: list = [[None] * n_etypes for _ in range(n_layers)]
    for li in range(n_layers - 1, -1, -1):
        da = dh * (acts[li] > 0)
        da_over_deg = da / deg[:, None]
        # A = Z_self + sum_c scatter(Z_c)/deg
        dz_self = da
        g_ws[li] = hs[li].T @ dz_self
        dh = dz_self @ np.asarray(weights["ws"][li]).T
        if n_etypes:
            for c, m in enumerate(cls_masks):
                dzc = np.zeros_like(da)
                if m.any():
                    np.add.at(dzc, src[m], da_over_deg[dst[m]])
                    np.add.at(dzc, dst[m], da_over_deg[src[m]])
                g_wes[li][c] = hs[li].T @ dzc
                dh = dh + dzc @ np.asarray(wes[li][c]).T
        else:
            dz = np.zeros_like(da)
            np.add.at(dz, src, da_over_deg[dst])
            np.add.at(dz, dst, da_over_deg[src])
            g_ws[li] = g_ws[li] + hs[li].T @ dz
            dh = dh + dz @ np.asarray(weights["ws"][li]).T
    parts = []
    for li in range(n_layers):
        parts.append(g_ws[li].ravel())
        if n_etypes:
            parts.extend(g.ravel() for g in g_wes[li])
    parts.append(g_wout.ravel())
    return np.concatenate(parts), loss, n


def train_ecn(
    nodes_feats: DataFrame,
    edges: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    classes: tuple[str, ...] = ("boilerplate", "main"),
    main_labels: tuple[str, ...] | None = None,
    n_hidden: int = 16,
    n_layers: int = 2,
    epochs: int = 40,
    lr: float = 0.05,
    seed: int = 42,
    verbose: bool = False,
    tune_epoch_latency: bool = True,
    n_etypes: int = 0,
    arch: str = "ecn",
    n_heads: int = 1,
) -> dict:
    """Fit ECN weights by distributed full-batch Adam.

    Labels: binary main-vs-boilerplate derived from ``label_col`` via
    ``main_labels`` (defaults to schemas.MAIN_CONTENT_LABELS), matching
    the LR baseline's target so the two models are comparable.

    ``tune_epoch_latency``: each epoch is a micro-job whose wall time is
    dominated by AQE re-planning latency, not compute (measured 3.9 vs
    1.4 s/epoch); when set, AQE is disabled for the duration of the fit
    and restored after. The epoch job itself is a fixed two-shuffle
    shape (cogroup + O(n_params) gradient aggregation), so AQE has
    nothing to re-plan anyway.
    """
    from ..schemas import MAIN_CONTENT_LABELS

    spark = nodes_feats.sparkSession
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    if tune_epoch_latency:
        spark.conf.set("spark.sql.adaptive.enabled", "false")

    main = tuple(main_labels) if main_labels is not None else MAIN_CONTENT_LABELS
    n_features, n_classes = len(feature_cols), len(classes)
    if arch == "gat":
        shapes = _gat_shapes(n_features, n_hidden, n_classes, n_layers, n_heads)
        theta = _gat_flatten(gat_init(n_features, n_hidden, n_classes, n_layers, seed, n_heads))
    else:
        shapes = _shapes(n_features, n_hidden, n_classes, n_layers, n_etypes)
        theta = _flatten(init_weights(n_features, n_hidden, n_classes, n_layers, seed, n_etypes))
    n_params = sum(r * c for r, c in shapes)

    nf_rows = nodes_feats.select(
        "url", "node_id",
        F.col(label_col).isin(list(main)).cast("int").alias("_y"),
        *feature_cols,
    ).cache()
    e_rows = edges.select("url", "src", "dst", "etype").cache()

    # Fitted standardizer (one distributed pass): carried inside the
    # weights dict so inference applies the identical transform.
    stats = nf_rows.agg(
        *[F.avg(c).alias(f"mu_{c}") for c in feature_cols],
        *[F.stddev_pop(c).alias(f"sd_{c}") for c in feature_cols],
    ).collect()[0]
    mu = [float(stats[f"mu_{c}"] or 0.0) for c in feature_cols]
    sigma = [max(float(stats[f"sd_{c}"] or 0.0), 1e-9) for c in feature_cols]
    scaler = {"mu": mu, "sigma": sigma}

    grad_schema = T.StructType(
        [
            T.StructField("grad", T.ArrayType(T.DoubleType(), False), False),
            T.StructField("loss", T.DoubleType(), False),
            T.StructField("n", T.LongType(), False),
        ]
    )

    m = np.zeros(n_params)
    v = np.zeros(n_params)
    b1, b2, eps = 0.9, 0.999, 1e-8
    try:
        theta = _train_loop(
            theta, shapes, n_params, nf_rows, e_rows, feature_cols,
            epochs, lr, m, v, b1, b2, eps, grad_schema, verbose, scaler,
            n_layers, n_etypes, arch, n_heads,
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)
        nf_rows.unpersist()
        e_rows.unpersist()
    unf = (lambda th: _gat_unflatten(th, shapes, n_heads)) if arch == "gat" else (
        lambda th: _unflatten(th, shapes, n_layers, n_etypes))
    return dict(unf(theta), **scaler)


def _train_loop(theta, shapes, n_params, nf_rows, e_rows, feature_cols,
                epochs, lr, m, v, b1, b2, eps, grad_schema, verbose, scaler,
                n_layers, n_etypes, arch="ecn", n_heads=1):
    grad_fn = _gat_doc_grad if arch == "gat" else _doc_grad
    unf = (lambda th: _gat_unflatten(th, shapes, n_heads)) if arch == "gat" else (
        lambda th: _unflatten(th, shapes, n_layers, n_etypes))
    for t in range(1, epochs + 1):
        weights = dict(unf(theta), **scaler)

        def run(n: Mapping[str, np.ndarray], e: Mapping[str, np.ndarray]) -> dict:
            _, nf, src, dst, e_cls = _doc_graph(n, e, feature_cols)
            flat, loss, cnt = grad_fn(nf, src, dst, n["_y"].astype(np.int64), weights,
                                      e_cls if "wes" in weights else None)
            return {"grad": [flat.tolist()], "loss": [loss], "n": [cnt]}

        per_doc = per_url(grad_schema, run, nf_rows, e_rows)
        # elementwise array sum: posexplode -> groupBy(pos) -> sum; the
        # collect is O(n_params) rows, never O(docs).
        agg = (
            per_doc.select(F.posexplode("grad").alias("pos", "g"), "loss", "n")
            .groupBy("pos")
            .agg(F.sum("g").alias("g"), F.sum("loss").alias("l"), F.sum("n").alias("n"))
            .collect()
        )
        grad = np.zeros(n_params)
        total_n = 0
        total_loss = 0.0
        for r in agg:
            grad[r.pos] = r.g
            total_n = r.n
            total_loss = r.l
        grad /= max(total_n, 1)
        # Round away float-summation-order noise (~1e-16 relative) so the
        # fit is bit-deterministic across partitionings and runs.
        grad = np.round(grad, 9)
        m = b1 * m + (1 - b1) * grad
        v = b2 * v + (1 - b2) * grad * grad
        mh = m / (1 - b1**t)
        vh = v / (1 - b2**t)
        theta = theta - lr * mh / (np.sqrt(vh) + eps)
        if verbose:
            print(f"epoch {t}: loss {total_loss / max(total_n, 1):.5f}", flush=True)
    return theta


# ---------------------------------------------------------------------------
# M5: GAT — single-head graph attention (reference ``gcn/gcn_models.py``
# GraphAttention family). Same per-document numpy + distributed-Adam
# shape as the ECN; attention decomposes a.[Wh_i || Wh_j] into
# a1.z_i + a2.z_j with a leaky-relu and a per-neighbourhood softmax
# (self-loops included).
# ---------------------------------------------------------------------------
_LRELU_SLOPE = 0.2


def gat_init(n_features: int, n_hidden: int, n_classes: int,
             n_layers: int = 2, seed: int = 42, n_heads: int = 1) -> dict:
    """``n_heads > 1`` = multi-head attention (reference GAT concatenates
    per-head outputs, ``gcn/gcn_models.py:1795-2528``): each layer holds
    n_heads independent (W, a1, a2) triples with head width
    n_hidden // n_heads; layer output is the concat (width n_hidden).
    Single-head keeps the round-2 parameter layout and RNG stream."""
    if n_heads == 1:
        rng = np.random.default_rng([seed, 5, n_features, n_hidden, n_classes])
        dims = [n_features] + [n_hidden] * n_layers
        ws, a1s, a2s = [], [], []
        for i in range(n_layers):
            lim = float(np.sqrt(6.0 / (dims[i] + dims[i + 1])))
            ws.append(rng.uniform(-lim, lim, size=(dims[i], dims[i + 1])).tolist())
            a1s.append(rng.uniform(-lim, lim, size=(dims[i + 1], 1)).tolist())
            a2s.append(rng.uniform(-lim, lim, size=(dims[i + 1], 1)).tolist())
        lim = float(np.sqrt(6.0 / (dims[-1] + n_classes)))
        w_out = rng.uniform(-lim, lim, size=(dims[-1], n_classes)).tolist()
        return {"gat_ws": ws, "gat_a1": a1s, "gat_a2": a2s, "w_out": w_out}
    assert n_hidden % n_heads == 0, "n_hidden must split evenly across heads"
    dh = n_hidden // n_heads
    rng = np.random.default_rng([seed, 5, n_features, n_hidden, n_classes, n_heads])
    dims = [n_features] + [n_hidden] * n_layers
    ws, a1s, a2s = [], [], []
    for i in range(n_layers):
        lim = float(np.sqrt(6.0 / (dims[i] + dh)))
        ws.append([rng.uniform(-lim, lim, size=(dims[i], dh)).tolist() for _ in range(n_heads)])
        a1s.append([rng.uniform(-lim, lim, size=(dh, 1)).tolist() for _ in range(n_heads)])
        a2s.append([rng.uniform(-lim, lim, size=(dh, 1)).tolist() for _ in range(n_heads)])
    lim = float(np.sqrt(6.0 / (dims[-1] + n_classes)))
    w_out = rng.uniform(-lim, lim, size=(dims[-1], n_classes)).tolist()
    return {"gat_ws": ws, "gat_a1": a1s, "gat_a2": a2s, "w_out": w_out}


def _gat_shapes(n_features: int, n_hidden: int, n_classes: int, n_layers: int,
                n_heads: int = 1):
    dh = n_hidden // n_heads
    dims = [n_features] + [n_hidden] * n_layers
    out = []
    for i in range(n_layers):
        for _ in range(n_heads):
            out += [(dims[i], dh), (dh, 1), (dh, 1)]
    out.append((dims[-1], n_classes))
    return out


def _gat_layer_params(weights: dict, li: int):
    """Per-layer (W, a1, a2) with an explicit head axis; single-head
    weights (2-D matrices) get a length-1 head axis."""
    w = np.asarray(weights["gat_ws"][li])
    a1 = np.asarray(weights["gat_a1"][li])
    a2 = np.asarray(weights["gat_a2"][li])
    if w.ndim == 2:
        return w[None], a1[None], a2[None]
    return w, a1, a2


def _gat_flatten(w: dict) -> np.ndarray:
    parts = []
    for li in range(len(w["gat_ws"])):
        W, A1, A2 = _gat_layer_params(w, li)
        for hh in range(W.shape[0]):
            parts += [W[hh].ravel(), A1[hh].ravel(), A2[hh].ravel()]
    parts.append(np.asarray(w["w_out"]).ravel())
    return np.concatenate(parts)


def _gat_unflatten(vec: np.ndarray, shapes, n_heads: int = 1) -> dict:
    mats, off = [], 0
    for r, c in shapes:
        mats.append(vec[off:off + r * c].reshape(r, c))
        off += r * c
    per_layer = 3 * n_heads
    n_layers = (len(mats) - 1) // per_layer
    ws, a1s, a2s = [], [], []
    for li in range(n_layers):
        blk = mats[li * per_layer : (li + 1) * per_layer]
        if n_heads == 1:
            ws.append(blk[0].tolist())
            a1s.append(blk[1].tolist())
            a2s.append(blk[2].tolist())
        else:
            ws.append([blk[3 * h].tolist() for h in range(n_heads)])
            a1s.append([blk[3 * h + 1].tolist() for h in range(n_heads)])
            a2s.append([blk[3 * h + 2].tolist() for h in range(n_heads)])
    return {"gat_ws": ws, "gat_a1": a1s, "gat_a2": a2s, "w_out": mats[-1].tolist()}


def _gat_pairs(n: int, src: np.ndarray, dst: np.ndarray):
    """Directed attention pairs: self-loops + both edge directions."""
    ii = np.concatenate([np.arange(n), src, dst])
    jj = np.concatenate([np.arange(n), dst, src])
    return ii, jj


def _seg_softmax(e: np.ndarray, ii: np.ndarray, n: int) -> np.ndarray:
    mx = np.full(n, -np.inf)
    np.maximum.at(mx, ii, e)
    ex = np.exp(e - mx[ii])
    denom = np.zeros(n)
    np.add.at(denom, ii, ex)
    return ex / denom[ii]


def _gat_forward(nf: np.ndarray, src: np.ndarray, dst: np.ndarray, weights: dict,
                 _e_cls=None) -> np.ndarray:
    h = _scale(nf, weights)
    n = len(h)
    ii, jj = _gat_pairs(n, src, dst)
    for li in range(len(weights["gat_ws"])):
        W, A1, A2 = _gat_layer_params(weights, li)
        outs = []
        for hh in range(W.shape[0]):
            z = h @ W[hh]
            s = (z @ A1[hh]).ravel()
            t = (z @ A2[hh]).ravel()
            pre = s[ii] + t[jj]
            e = np.where(pre > 0, pre, _LRELU_SLOPE * pre)
            alpha = _seg_softmax(e, ii, n)
            agg = np.zeros_like(z)
            np.add.at(agg, ii, alpha[:, None] * z[jj])
            outs.append(np.maximum(agg, 0.0))
        h = outs[0] if len(outs) == 1 else np.concatenate(outs, axis=1)
    logits = h @ np.asarray(weights["w_out"])
    logits -= logits.max(axis=1, keepdims=True)
    ex = np.exp(logits)
    return ex / ex.sum(axis=1, keepdims=True)


def _gat_doc_grad(nf: np.ndarray, src: np.ndarray, dst: np.ndarray, y: np.ndarray,
                  weights: dict, _e_cls=None) -> tuple[np.ndarray, float, int]:
    h0 = _scale(nf, weights)
    n = len(h0)
    ii, jj = _gat_pairs(n, src, dst)
    n_layers = len(weights["gat_ws"])
    hs, caches = [h0], []
    h = h0
    for li in range(n_layers):
        W, A1, A2 = _gat_layer_params(weights, li)
        head_caches, outs = [], []
        for hh in range(W.shape[0]):
            z = h @ W[hh]
            s = (z @ A1[hh]).ravel()
            t = (z @ A2[hh]).ravel()
            pre = s[ii] + t[jj]
            e = np.where(pre > 0, pre, _LRELU_SLOPE * pre)
            alpha = _seg_softmax(e, ii, n)
            agg = np.zeros_like(z)
            np.add.at(agg, ii, alpha[:, None] * z[jj])
            head_caches.append((z, pre, alpha, agg))
            outs.append(np.maximum(agg, 0.0))
        caches.append(head_caches)
        h = outs[0] if len(outs) == 1 else np.concatenate(outs, axis=1)
        hs.append(h)
    w_out = np.asarray(weights["w_out"])
    logits = h @ w_out
    logits -= logits.max(axis=1, keepdims=True)
    ex = np.exp(logits)
    p = ex / ex.sum(axis=1, keepdims=True)
    onehot = np.zeros_like(p)
    onehot[np.arange(n), y] = 1.0
    loss = float(-np.log(np.clip(p[np.arange(n), y], 1e-12, 1.0)).sum())

    dlog = p - onehot
    g_wout = hs[-1].T @ dlog
    dh = dlog @ w_out.T
    grads = [None] * n_layers
    for li in range(n_layers - 1, -1, -1):
        W, A1, A2 = _gat_layer_params(weights, li)
        n_heads = W.shape[0]
        dh_prev = np.zeros_like(hs[li])
        head_grads = []
        for hh in range(n_heads):
            z, pre, alpha, agg = caches[li][hh]
            dh_head = dh[:, hh * z.shape[1] : (hh + 1) * z.shape[1]]
            dagg = dh_head * (agg > 0)
            # agg_i = sum_j alpha_ij z_j
            dalpha = np.einsum("pd,pd->p", dagg[ii], z[jj])
            dz = np.zeros_like(z)
            np.add.at(dz, jj, alpha[:, None] * dagg[ii])
            # softmax grad per neighbourhood i:
            # de = alpha * (dalpha - sum_k alpha_k dalpha_k)
            dot = np.zeros(n)
            np.add.at(dot, ii, alpha * dalpha)
            de = alpha * (dalpha - dot[ii])
            dpre = de * np.where(pre > 0, 1.0, _LRELU_SLOPE)
            ds = np.zeros(n)
            dt = np.zeros(n)
            np.add.at(ds, ii, dpre)
            np.add.at(dt, jj, dpre)
            # s = z @ a1 ; t = z @ a2
            g_a1 = (z * ds[:, None]).sum(axis=0)[:, None]
            g_a2 = (z * dt[:, None]).sum(axis=0)[:, None]
            dz += ds[:, None] * A1[hh].ravel()[None, :] + dt[:, None] * A2[hh].ravel()[None, :]
            g_w = hs[li].T @ dz
            dh_prev += dz @ W[hh].T
            head_grads.append((g_w, g_a1, g_a2))
        dh = dh_prev
        grads[li] = head_grads
    parts = []
    for head_grads in grads:
        for g_w, g_a1, g_a2 in head_grads:
            parts += [g_w.ravel(), g_a1.ravel(), g_a2.ravel()]
    parts.append(g_wout.ravel())
    return np.concatenate(parts), loss, n
