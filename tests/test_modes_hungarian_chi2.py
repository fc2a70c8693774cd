"""Edge modes g2/g1o, Hungarian assignment, chi2 feature selection."""

import itertools

import numpy as np
import pandas as pd
import pytest

from transkribusdu_spark.functions.hungarian import best_cluster_match, linear_sum_assignment
from transkribusdu_spark.pipeline.edges import doc_edges


def _nodes(rows):
    return pd.DataFrame(
        [
            dict(url="u", page_num=1, node_id=nid, x1=float(x1), y1=float(y1),
                 x2=float(x2), y2=float(y2))
            for nid, x1, y1, x2, y2 in rows
        ]
    )


def _pairs(edges, etype):
    return {(s, d) for s, d, t in zip(edges["src"], edges["dst"], edges["etype"]) if t == etype}


def test_g2_visible_overlap_only():
    # B masks the left half of A's span before C is considered: in g2 the
    # A-C edge's overlap is only the *visible* right half.
    layout = _nodes([
        ("A", 100, 100, 500, 150),
        ("B", 100, 200, 300, 250),
        ("C", 100, 300, 500, 350),
    ])
    g1 = pd.DataFrame(doc_edges(layout, mode="g1"))
    g2 = pd.DataFrame(doc_edges(layout, mode="g2"))
    ac1 = [r for r in g1.itertuples() if r.etype == "V" and r.src == "A" and r.dst == "C"][0]
    ac2 = [r for r in g2.itertuples() if r.etype == "V" and r.src == "A" and r.dst == "C"][0]
    assert ac1.overlap == 400.0  # full geometric x-overlap
    assert ac2.overlap == 200.0  # visible slice only ([300,500])
    # unmasked edges agree across modes
    ab1 = [r for r in g1.itertuples() if r.src == "A" and r.dst == "B"][0]
    ab2 = [r for r in g2.itertuples() if r.src == "A" and r.dst == "B"][0]
    assert ab1.overlap == ab2.overlap


def test_g1o_overlapping_boxes_get_single_orientation():
    # Two overlapping boxes: g1 finds nothing (no block starts below the
    # other's end); g1o emits exactly one orientation (larger overlap).
    layout = _nodes([
        ("A", 100, 100, 300, 200),
        ("B", 150, 150, 350, 260),
    ])
    g1 = pd.DataFrame(doc_edges(layout, mode="g1"))
    assert len(g1[g1.etype.isin(["V", "H"])]) == 0
    g1o = pd.DataFrame(doc_edges(layout, mode="g1o"))
    vh = g1o[g1o.etype.isin(["V", "H"])]
    assert len(vh) == 1
    r = vh.iloc[0]
    assert (r.src, r.dst) == ("A", "B")
    assert r.etype == "V"  # x-overlap (150) > y-overlap (50)


def test_g1o_matches_g1_on_disjoint_layout():
    layout = _nodes([
        ("A", 100, 100, 500, 150),
        ("B", 100, 200, 500, 250),
        ("C", 100, 300, 500, 350),
    ])
    assert _pairs(doc_edges(layout, "g1"), "V") == _pairs(doc_edges(layout, "g1o"), "V")


def test_hungarian_vs_bruteforce():
    rng = np.random.default_rng(7)
    for n, m in [(3, 3), (4, 6), (5, 4), (1, 3)]:
        cost = rng.uniform(0, 10, size=(n, m))
        ri, ci = linear_sum_assignment(cost)
        got = cost[ri, ci].sum()
        k = min(n, m)
        best = min(
            sum(cost[i, p[i]] if n <= m else cost[p[i], i] for i in range(k))
            for p in itertools.permutations(range(max(n, m)), k)
        )
        assert got == pytest.approx(best), (n, m)


def test_best_cluster_match():
    gt = [{"a", "b"}, {"c"}, {"d", "e"}]
    pred = [{"c"}, {"a", "b"}, {"d"}]
    matches = best_cluster_match(gt, pred)
    as_dict = {g: (p, j) for g, p, j in matches}
    assert as_dict[0] == (1, 1.0)
    assert as_dict[1] == (0, 1.0)
    assert as_dict[2][0] == 2 and as_dict[2][1] == pytest.approx(0.5)


def test_chi2_selects_discriminative_feature(spark):
    import pandas as pd

    from transkribusdu_spark.pipeline.featselect import chi2_scores, select_top_k

    rng = np.random.default_rng(3)
    n = 400
    y = rng.integers(0, 2, n)
    good = y * 3.0 + rng.uniform(0, 0.3, n)     # correlated
    noise = rng.uniform(0, 3, n)                 # independent
    const = np.ones(n)
    df = spark.createDataFrame(
        pd.DataFrame({"y": y.astype(float), "good": good, "noise": noise, "const": const})
    )
    scored = {r.feature: r.chi2 for r in chi2_scores(df, ["good", "noise", "const"]).collect()}
    assert scored["good"] > scored["noise"]
    assert scored["good"] > scored["const"]
    assert select_top_k(df, ["good", "noise", "const"], 1) == ["good"]
