"""ECN and GAT graph scorers + distributed trainer (SURVEY.md §2.9 M4, M5).

The reference's EdgeConvNet (``gcn/gcn_models.py:440-1515``) computes,
per layer, FW = F.Wᵀ+b plus per-edge-channel sparse message passing
S.diag(cw).Tᵀ.H; its GraphAttention family (``:1795-2528``) follows the
same pattern with attention-weighted neighbourhoods. Both are trained
with TF1 Adam (``gcn/gcn_models.py:258-296``). Re-expressed Spark-first:

- *One network core.* Each architecture has one numpy layer pass over a
  document (:func:`_ecn_layers`, :func:`_gat_layers`) that returns the
  per-layer activations and what its backward pass needs. The weights'
  keys pick the architecture (``"gat_ws"`` means GAT). Inference
  (:func:`_forward`) and training (:func:`_doc_grad`) both call it;
  only the backward passes (:func:`_ecn_backward`,
  :func:`_gat_backward`) differ. One flat layout (:func:`_flatten`,
  :func:`_unflatten`) serves both: every parameter array in the fixed
  key order ``_LAYER_KEYS`` then ``w_out``, each reshaped to the
  template's shape on the way back.
- *Inference* (:func:`ecn_score`): the forward pass in one Arrow kernel
  call per url-cogrouped document (:func:`.perdoc.per_url`), weights
  broadcast by closure.
- *Training* (:func:`train_ecn`): distributed full-batch gradient
  descent — each epoch computes per-document gradients in the same
  cogrouped shape, sums them with a posexplode + groupBy(pos)
  aggregation (one O(n_params)-row collect per epoch, n_params ~ 700),
  and applies an Adam step on the driver. The data never leaves the
  executors; only gradient vectors do — the classic
  parameter-server-on-the-driver shape, sized for tiny parameter
  vectors and arbitrarily large corpora.
"""

from __future__ import annotations

from typing import Mapping

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import MAIN_CONTENT_LABELS
from .perdoc import per_url

SCORES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("node_id", T.StringType(), False),
        T.StructField("y_proba", T.ArrayType(T.DoubleType(), False), False),
    ]
)


ETYPE_IDX = {"H": 0, "V": 1, "CP": 2, "CPM": 2}

# Per-layer parameter keys of both layouts, in flat order; w_out follows.
_GAT_KEYS = ("gat_ws", "gat_a1", "gat_a2")
_LAYER_KEYS = ("ws", "wes") + _GAT_KEYS
_LRELU_SLOPE = 0.2


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


def gat_init(n_features: int, n_hidden: int, n_classes: int,
             n_layers: int = 2, seed: int = 42, n_heads: int = 1) -> dict:
    """GAT weights: per layer a node transform W and the two halves
    a1, a2 of the attention vector. ``n_heads > 1`` = multi-head
    attention (reference GAT concatenates per-head outputs,
    ``gcn/gcn_models.py:1795-2528``): each layer holds n_heads
    independent (W, a1, a2) triples with head width n_hidden // n_heads;
    layer output is the concat (width n_hidden). Single-head keeps 2-D
    matrices and the round-2 RNG stream."""
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


def _flatten(weights: dict) -> np.ndarray:
    """Every parameter array of ``weights`` (or of a gradient dict nested
    like it), raveled and concatenated in the fixed key order."""
    mats = [m for k in _LAYER_KEYS for m in weights.get(k, ())] + [weights["w_out"]]
    return np.concatenate([np.asarray(m, dtype=np.float64).ravel() for m in mats])


def _unflatten(vec: np.ndarray, like: dict) -> dict:
    """Inverse of :func:`_flatten`: ``like`` with each parameter array
    replaced by its slice of ``vec`` in the template's shape (nested
    lists, as in the weights JSON). Other keys (the standardizer) are
    copied."""
    out, off = dict(like), 0

    def take(m):
        nonlocal off
        shape = np.shape(m)
        size = int(np.prod(shape))
        off += size
        return vec[off - size : off].reshape(shape).tolist()

    for k in _LAYER_KEYS:
        if k in like:
            out[k] = [take(m) for m in like[k]]
    out["w_out"] = take(like["w_out"])
    return out


def _scale(nf: np.ndarray, weights: dict) -> np.ndarray:
    """Apply the fitted standardizer carried in the weights (reference
    ECN pipelines standardize node features before the net; without it
    wide-range features like text length stall training)."""
    if "mu" in weights:
        return (nf - np.asarray(weights["mu"])) / np.asarray(weights["sigma"])
    return nf


def _ecn_layers(h: np.ndarray, src: np.ndarray, dst: np.ndarray, weights: dict,
                e_cls: np.ndarray):
    """ECN layer pass over one document. Message passing = mean over
    in/out neighbours (segment-sum via np.add.at), relu between layers.
    With "wes" in the weights, messages along an edge of class c go
    through that layer's matrix ``wes[li][c]`` — the edge-conditioned
    convolution; without, through ``ws[li]``. Returns ``hs`` (the input
    and every layer's output) and what :func:`_ecn_backward` needs
    (pre-activations, degrees)."""
    deg = np.zeros(len(h))
    np.add.at(deg, src, 1.0)
    np.add.at(deg, dst, 1.0)
    deg = np.maximum(deg, 1.0)
    wes = weights.get("wes")
    hs, acts = [h], []
    for li, w in enumerate(weights["ws"]):
        z = h @ np.asarray(w)
        msg = np.zeros_like(z)
        if wes is None:
            np.add.at(msg, dst, z[src])
            np.add.at(msg, src, z[dst])
        else:
            for c, wc in enumerate(wes[li]):
                m = e_cls == c
                if not m.any():
                    continue
                zc = h @ np.asarray(wc)
                np.add.at(msg, dst[m], zc[src[m]])
                np.add.at(msg, src[m], zc[dst[m]])
        a = z + msg / deg[:, None]
        h = np.maximum(a, 0.0)
        acts.append(a)
        hs.append(h)
    return hs, (acts, deg)


def _ecn_backward(dh: np.ndarray, hs: list, cache, src: np.ndarray, dst: np.ndarray,
                  weights: dict, e_cls: np.ndarray) -> dict:
    """Backprop ``dh`` (loss gradient at the last layer output) through
    :func:`_ecn_layers`; returns the ``ws``/``wes`` gradients nested
    like the weights."""
    acts, deg = cache
    wes = weights.get("wes")
    n_layers = len(acts)
    g = {"ws": [None] * n_layers}
    if wes is not None:
        g["wes"] = [None] * n_layers
    for li in range(n_layers - 1, -1, -1):
        w = np.asarray(weights["ws"][li])
        da = dh * (acts[li] > 0)
        da_over_deg = da / deg[:, None]
        # A = Z_self + sum_c scatter(Z_c)/deg
        g_w = hs[li].T @ da
        dh = da @ w.T
        if wes is None:
            dz = np.zeros_like(da)
            np.add.at(dz, src, da_over_deg[dst])
            np.add.at(dz, dst, da_over_deg[src])
            g_w = g_w + hs[li].T @ dz
            dh = dh + dz @ w.T
        else:
            g["wes"][li] = []
            for c, wc in enumerate(wes[li]):
                m = e_cls == c
                dzc = np.zeros_like(da)
                if m.any():
                    np.add.at(dzc, src[m], da_over_deg[dst[m]])
                    np.add.at(dzc, dst[m], da_over_deg[src[m]])
                g["wes"][li].append(hs[li].T @ dzc)
                dh = dh + dzc @ np.asarray(wc).T
        g["ws"][li] = g_w
    return g


def _heads(m) -> np.ndarray:
    """A GAT layer parameter with a leading head axis (single-head
    weights hold 2-D matrices, multi-head ones a list per head)."""
    m = np.asarray(m)
    return m.reshape((-1,) + m.shape[-2:])


def _gat_layers(h: np.ndarray, src: np.ndarray, dst: np.ndarray, weights: dict,
                e_cls: np.ndarray):
    """GAT layer pass over one document (edge classes unused).
    Attention decomposes a.[Wh_i || Wh_j] into a1.z_i + a2.z_j with a
    leaky-relu and a softmax over each node's neighbourhood (self-loop
    and both edge directions); head outputs are relu'd and concatenated.
    Returns ``hs`` (the input and every layer's output) and what
    :func:`_gat_backward` needs (attention pairs, per-head intermediates)."""
    n = len(h)
    ii = np.concatenate([np.arange(n), src, dst])
    jj = np.concatenate([np.arange(n), dst, src])
    hs, caches = [h], []
    for li in range(len(weights["gat_ws"])):
        W, A1, A2 = (_heads(weights[k][li]) for k in _GAT_KEYS)
        head_caches, outs = [], []
        for hh in range(W.shape[0]):
            z = h @ W[hh]
            s = (z @ A1[hh]).ravel()
            t = (z @ A2[hh]).ravel()
            pre = s[ii] + t[jj]
            e = np.where(pre > 0, pre, _LRELU_SLOPE * pre)
            mx = np.full(n, -np.inf)
            np.maximum.at(mx, ii, e)
            ex = np.exp(e - mx[ii])
            denom = np.zeros(n)
            np.add.at(denom, ii, ex)
            alpha = ex / denom[ii]
            agg = np.zeros_like(z)
            np.add.at(agg, ii, alpha[:, None] * z[jj])
            head_caches.append((z, pre, alpha, agg))
            outs.append(np.maximum(agg, 0.0))
        caches.append(head_caches)
        h = np.concatenate(outs, axis=1)
        hs.append(h)
    return hs, (ii, jj, caches)


def _gat_backward(dh: np.ndarray, hs: list, cache, src: np.ndarray, dst: np.ndarray,
                  weights: dict, e_cls: np.ndarray) -> dict:
    """Backprop ``dh`` through :func:`_gat_layers`; returns the
    ``gat_ws``/``gat_a1``/``gat_a2`` gradients nested like the weights."""
    ii, jj, caches = cache
    n = len(hs[0])
    n_layers = len(caches)
    g = {k: [None] * n_layers for k in _GAT_KEYS}
    for li in range(n_layers - 1, -1, -1):
        W, A1, A2 = (_heads(weights[k][li]) for k in _GAT_KEYS)
        dh_prev = np.zeros_like(hs[li])
        head_grads = []
        for hh, (z, pre, alpha, agg) in enumerate(caches[li]):
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
            head_grads.append((hs[li].T @ dz, g_a1, g_a2))
            dh_prev += dz @ W[hh].T
        dh = dh_prev
        for k, per_head in zip(_GAT_KEYS, zip(*head_grads)):
            g[k][li] = np.reshape(per_head, np.shape(weights[k][li]))
    return g


def _softmax(logits: np.ndarray) -> np.ndarray:
    logits = logits - logits.max(axis=1, keepdims=True)
    e = np.exp(logits)
    return e / e.sum(axis=1, keepdims=True)


def _forward(nf: np.ndarray, src: np.ndarray, dst: np.ndarray, weights: dict,
             e_cls: np.ndarray) -> np.ndarray:
    """One document: node features [N,F], edge index arrays and edge
    classes -> class probabilities [N,K], by the architecture the
    weights hold."""
    layers = _gat_layers if "gat_ws" in weights else _ecn_layers
    hs, _ = layers(_scale(nf, weights), src, dst, weights, e_cls)
    return _softmax(hs[-1] @ np.asarray(weights["w_out"]))


def _doc_grad(nf: np.ndarray, src: np.ndarray, dst: np.ndarray, y: np.ndarray,
              weights: dict, e_cls: np.ndarray) -> np.ndarray:
    """Forward + backprop for one document: the flat gradient of the
    cross-entropy summed (not averaged) over its nodes, in
    :func:`_flatten` order."""
    gat = "gat_ws" in weights
    hs, cache = (_gat_layers if gat else _ecn_layers)(
        _scale(nf, weights), src, dst, weights, e_cls)
    w_out = np.asarray(weights["w_out"])
    p = _softmax(hs[-1] @ w_out)
    dlogits = p - np.eye(p.shape[1])[y]
    grads = (_gat_backward if gat else _ecn_backward)(
        dlogits @ w_out.T, hs, cache, src, dst, weights, e_cls)
    grads["w_out"] = hs[-1].T @ dlogits
    return _flatten(grads)


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
    """Distributed ECN/GAT inference: co-group node features and edges
    per url, run the numpy forward pass, emit per-node class
    probabilities. ``weights`` is broadcast by closure capture (tiny)."""

    def run(n: Mapping[str, np.ndarray], e: Mapping[str, np.ndarray]) -> dict:
        ids, nf, src, dst, e_cls = _doc_graph(n, e, feature_cols)
        proba = _forward(nf, src, dst, weights, e_cls)
        return {"url": n["url"], "node_id": ids,
                "y_proba": [np.round(p, 6).tolist() for p in proba]}

    return per_url(
        SCORES_SCHEMA, run,
        nodes_feats.select("url", "node_id", *feature_cols),
        edges.select("url", "src", "dst", "etype"),
    )


_GRAD_SCHEMA = T.StructType(
    [
        T.StructField("grad", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("n", T.LongType(), False),
    ]
)


def train_ecn(
    nodes_feats: DataFrame,
    edges: DataFrame,
    feature_cols: list[str],
    n_hidden: int = 16,
    epochs: int = 40,
    lr: float = 0.05,
    n_etypes: int = 0,
    arch: str = "ecn",
    n_heads: int = 1,
) -> dict:
    """Fit two-layer ECN (``arch="ecn"``) or GAT (``arch="gat"``)
    weights by distributed full-batch Adam.

    Labels: binary main-vs-boilerplate, main iff ``label`` is in
    schemas.MAIN_CONTENT_LABELS, matching the LR baseline's target so
    the two models are comparable.

    Each epoch is a micro-job whose wall time is dominated by AQE
    re-planning latency, not compute (measured 3.9 vs 1.4 s/epoch), and
    its fixed two-shuffle shape (cogroup + O(n_params) gradient
    aggregation) leaves AQE nothing to re-plan; so AQE is off for the
    fit. The conf and the two cached inputs are restored and released on
    every exit path.
    """
    n_features = len(feature_cols)
    init = (gat_init(n_features, n_hidden, 2, n_heads=n_heads) if arch == "gat"
            else init_weights(n_features, n_hidden, 2, n_etypes=n_etypes))
    theta = _flatten(init)
    m = np.zeros_like(theta)
    v = np.zeros_like(theta)
    b1, b2, eps = 0.9, 0.999, 1e-8

    nf_rows = nodes_feats.select(
        "url", "node_id",
        F.col("label").isin(list(MAIN_CONTENT_LABELS)).cast("int").alias("_y"),
        *feature_cols,
    )
    e_rows = edges.select("url", "src", "dst", "etype")
    spark = nodes_feats.sparkSession
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        nf_rows.cache()
        e_rows.cache()
        # Fitted standardizer (one distributed pass): carried inside the
        # weights dict so inference applies the identical transform.
        stats = nf_rows.agg(
            *[F.avg(c).alias(f"mu_{c}") for c in feature_cols],
            *[F.stddev_pop(c).alias(f"sd_{c}") for c in feature_cols],
        ).collect()[0]
        init["mu"] = [float(stats[f"mu_{c}"] or 0.0) for c in feature_cols]
        init["sigma"] = [max(float(stats[f"sd_{c}"] or 0.0), 1e-9) for c in feature_cols]

        for t in range(1, epochs + 1):
            weights = _unflatten(theta, init)

            def run(n: Mapping[str, np.ndarray], e: Mapping[str, np.ndarray]) -> dict:
                _, nf, src, dst, e_cls = _doc_graph(n, e, feature_cols)
                flat = _doc_grad(nf, src, dst, n["_y"].astype(np.int64), weights, e_cls)
                return {"grad": [flat.tolist()], "n": [len(nf)]}

            # elementwise array sum: posexplode -> groupBy(pos) -> sum; the
            # collect is O(n_params) rows, never O(docs).
            agg = (
                per_url(_GRAD_SCHEMA, run, nf_rows, e_rows)
                .select(F.posexplode("grad").alias("pos", "g"), "n")
                .groupBy("pos")
                .agg(F.sum("g").alias("g"), F.sum("n").alias("n"))
                .collect()
            )
            grad = np.zeros_like(theta)
            total_n = 0
            for r in agg:
                grad[r.pos] = r.g
                total_n = r.n
            grad /= max(total_n, 1)
            # Round away float-summation-order noise (~1e-16 relative) so the
            # fit is bit-deterministic across partitionings and runs.
            grad = np.round(grad, 9)
            m = b1 * m + (1 - b1) * grad
            v = b2 * v + (1 - b2) * grad * grad
            mh = m / (1 - b1**t)
            vh = v / (1 - b2**t)
            theta = theta - lr * mh / (np.sqrt(vh) + eps)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)
        nf_rows.unpersist()
        e_rows.unpersist()
    return _unflatten(theta, init)
