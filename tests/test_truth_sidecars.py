"""Truth-sidecar integrity: the committed oracle sidecars under truth/
must agree with (a) the pipeline kernels and (b) independently-derived
brute-force answers, on a sampled subset of the sf0.001 corpus. The full
500-doc differential runs in tools/make_truth.py's generation + the
driver's sf0.01 gate; this keeps a fast canary in CI."""

import os

import numpy as np
import pandas as pd
import pytest

import tools.make_truth as mt
from transkribusdu_spark.pipeline.edges import doc_edges
from transkribusdu_spark.pipeline.parse import parse_doc_cols
from transkribusdu_spark.synth import render_doc

TRUTH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "truth")


@pytest.fixture(scope="module")
def truth001():
    d = os.path.join(TRUTH, "sf0.001")
    return {
        "nodes": pd.read_parquet(os.path.join(d, "nodes.parquet")),
        "edges": pd.read_parquet(os.path.join(d, "edges.parquet")),
        "docs": pd.read_parquet(os.path.join(d, "docs.parquet")),
    }


def _sample_docs(sf_dir, n=25):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet").sort_values("doc_id")
    return docs.iloc[:: max(1, len(docs) // n)]


def test_truth_nodes_match_parser(sf_dir, truth001):
    for r in _sample_docs(sf_dir).itertuples():
        url, _, hb = render_doc(int(r.doc_id), r.text, r.lang)
        pdf = pd.DataFrame(parse_doc_cols(url, hb, kinds=("TextRegion", "TextLine")))
        t = truth001["nodes"][truth001["nodes"].url == url]
        cols = ["node_id", "kind", "label", "text", "x1", "y1", "x2", "y2", "page_num"]
        a = pdf[cols].sort_values(["node_id", "kind"]).reset_index(drop=True)
        b = t[cols].sort_values(["node_id", "kind"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()), check_like=True)


def test_truth_edges_match_kernel_all_modes(sf_dir, truth001):
    for r in _sample_docs(sf_dir).itertuples():
        url, _, hb = render_doc(int(r.doc_id), r.text, r.lang)
        reg = pd.DataFrame(parse_doc_cols(url, hb))
        for mode in ("g1", "g2", "g1o"):
            e = doc_edges(reg, mode=mode)
            te = truth001["edges"]
            te = te[(te.url == url) & (te["mode"] == mode)]
            assert sorted(zip(e["etype"], e["src"], e["dst"])) == sorted(
                zip(te["etype"], te["src"], te["dst"])
            ), f"{url} mode={mode}"


def test_truth_fulltext_is_reading_order_assembly(sf_dir, truth001):
    for r in _sample_docs(sf_dir).itertuples():
        url, _, hb = render_doc(int(r.doc_id), r.text, r.lang)
        pdf = pd.DataFrame(parse_doc_cols(url, hb)).sort_values(
            ["page_num", "y1", "x1", "node_id"]
        )
        ft = truth001["docs"]
        assert " ".join(pdf.text) == ft[ft.doc_id == int(r.doc_id)].full_text.iloc[0]


def test_ann_truth_is_exact_topk_when_recall_perfect(sf_dir):
    """The LSH ANN truth must be a plausible ANN answer: every returned
    neighbour's cosine must be <= the exact best, and ranks contiguous."""
    d = os.path.join(TRUTH, "sf0.001")
    lsh = pd.read_parquet(os.path.join(d, "ann_lsh.parquet"))
    ivf = pd.read_parquet(os.path.join(d, "ann_ivf.parquet"))
    for df in (lsh, ivf):
        assert set(df.groupby("query_id")["rank"].apply(tuple)) == {(1, 2, 3, 4, 5)}


def test_neardup_lsh_recall_is_total(sf_dir):
    """Gate for the LSH-candidate near-dup path (ops/dedup.py): the
    24x3 candidate generator must cover EVERY brute-force pair >= 0.45
    at this corpus — the assumption embedding_near_dups' oracle equality
    rests on (same contract as the MinHash-LSH gate)."""
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    ids = emb.vec_id.to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T
    iu = np.triu_indices(len(V), 1)
    mask = np.round(C[iu], 6) >= 0.45
    pairs = list(zip(iu[0][mask], iu[1][mask]))
    assert pairs, "fixture should contain planted near-dup pairs"
    planes = np.random.default_rng([mt.SEED, 11]).standard_normal((24, 3, 64))
    missed = []
    for a, b in pairs:
        hit = any(
            tuple((V[a] @ planes[t].T) > 0) == tuple((V[b] @ planes[t].T) > 0)
            for t in range(24)
        )
        if not hit:
            missed.append((ids[a], ids[b]))
    assert not missed, f"LSH candidates missed near-dup pairs: {missed}"
