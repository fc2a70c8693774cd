"""Parity features added in round 2: P5 bbox shrink, J6 continuous-page
mirror edges, J10 neighbour-class mask, F5 page-free geometry, F8 full
one-hots, C7 linear separator — each mirrored against its reference
semantics on hand-built fixtures."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from transkribusdu_spark.functions.separator import (
    get_linear_separator,
    linear_separator_1d,
)
from transkribusdu_spark.pipeline.edges import doc_edges
from transkribusdu_spark.pipeline.features import (
    NODE_FEATURE_COLS_FULL,
    neighbor_class_mask,
    node_features,
    node_geom_nopage,
)
from transkribusdu_spark.pipeline.parse import shrink_bboxes


def _nodes_df(spark, rows):
    cols = "url string, node_id string, page_num int, page_w double, page_h double, " \
           "page_cnt int, x1 double, y1 double, x2 double, y2 double, text string, label string"
    return spark.createDataFrame(rows, cols)


def test_shrink_bboxes_matches_reference_formula(spark):
    rows = [("u", "a", 1, 1000.0, 1000.0, 1, 100.0, 200.0, 600.0, 950.0, "x", "other")]
    out = shrink_bboxes(_nodes_df(spark, rows)).collect()[0]
    w, h = 500.0, 750.0
    dx = max(w * 0.066, min(20.0, w / 3.0))
    dy = max(h * 0.066, min(20.0, h / 3.0))
    assert out.x1 == float(round(100.0 + dx)) and out.x2 == float(round(600.0 - dx))
    assert out.y1 == float(round(200.0 + dy)) and out.y2 == float(round(950.0 - dy))


def test_overlapping_boxes_g1_vs_g1o_vs_shrink():
    """Fixture that NEEDS overlap handling: two vertically-overlapping
    blocks. g1 (non-overlap assumption) finds no V edge; g1o tolerates
    the overlap; the P5 shrink restores separation so g1 works again —
    exactly the reference's motivation for BBoxDeltaFun."""
    pdf = pd.DataFrame(
        {
            "url": ["u"] * 2, "node_id": ["a", "b"], "page_num": [1, 1],
            "x1": [100.0, 100.0], "y1": [100.0, 290.0],
            "x2": [500.0, 500.0], "y2": [300.0, 500.0],
        }
    )
    g1 = pd.DataFrame(doc_edges(pdf, mode="g1"))
    assert len(g1[g1.etype == "V"]) == 0, "g1 should miss the overlapping pair"
    g1o = pd.DataFrame(doc_edges(pdf, mode="g1o"))
    assert len(g1o[g1o.etype == "V"]) == 1, "g1o should tolerate the overlap"
    # shrink: dy = max(200*0.066, min(20, 200/3)) = 20 -> gap restored
    sh = pdf.copy()
    for c, d in (("y1", 1), ("y2", -1)):
        h = pdf["y2"] - pdf["y1"]
        sh[c] = (pdf[c] + d * np.maximum(h * 0.066, np.minimum(20.0, h / 3.0))).round()
    g1s = pd.DataFrame(doc_edges(sh, mode="g1"))
    assert len(g1s[g1s.etype == "V"]) == 1, "shrunk boxes should separate"


def test_g2_true_masking_overlap_value():
    """g2 overlap must be the VISIBLE part only: c sits below a and b,
    with b masking the right half of a's span."""
    pdf = pd.DataFrame(
        {
            "url": ["u"] * 3, "node_id": ["a", "b", "c"], "page_num": [1, 1, 1],
            "x1": [0.0, 200.0, 0.0], "y1": [0.0, 100.0, 200.0],
            "x2": [400.0, 400.0, 400.0], "y2": [50.0, 150.0, 250.0],
        }
    )
    g2 = pd.DataFrame(doc_edges(pdf, mode="g2"))
    ac = g2[(g2.src == "a") & (g2.dst == "c")]
    assert len(ac) == 1 and float(ac.overlap.iloc[0]) == 200.0  # left half only
    g1 = pd.DataFrame(doc_edges(pdf, mode="g1"))
    ac1 = g1[(g1.src == "a") & (g1.dst == "c")]
    assert len(ac1) == 1 and float(ac1.overlap.iloc[0]) == 400.0  # full projection


def test_linear_separator_mirrors_reference_cases():
    # mirror of util/statSeparator.py test_getLinearSeparator
    X = np.array([(i, 10) for i in range(10)] + [(i, -2) for i in range(10)], dtype=float)
    Y = np.array([1] * 10 + [0] * 10)
    a, b = get_linear_separator(X, Y)
    assert abs(a) < 1e-9 and abs(b - 4) < 1e-9
    X = np.array([(i, 10 + i) for i in range(10)] + [(i, -2 + i) for i in range(10)], dtype=float)
    a, b = get_linear_separator(X, Y)
    assert abs(a - 1) < 1e-9 and abs(b - 4) < 1e-9
    thr, margin = linear_separator_1d(np.array([1.0, 2.0, 8.0, 9.0]), np.array([0, 0, 1, 1]))
    assert thr == 5.0 and margin == 6.0


def test_neighbor_class_mask_bits(spark):
    rows = [
        ("u", "a", 1, 100.0, 100.0, 2, 0.0, 0.0, 10.0, 10.0, "t", "paragraph"),
        ("u", "b", 1, 100.0, 100.0, 2, 0.0, 20.0, 10.0, 30.0, "t", "header"),
        ("u", "c", 2, 100.0, 100.0, 2, 0.0, 0.0, 10.0, 10.0, "t", "other"),
    ]
    nodes = _nodes_df(spark, rows)
    edges = spark.createDataFrame(
        [("u", 1, "a", "b", "V", 1.0, 1.0, 0.5), ("u", 1, "a", "c", "CP", 0.0, 0.0, 0.9)],
        "url string, page_num int, src string, dst string, etype string, "
        "length double, overlap double, iou double",
    )
    m = {r.node_id: r for r in neighbor_class_mask(nodes, edges).collect()}
    # ALL_LABELS order: paragraph=1, heading=2, header=4, page-number=8, other=16...
    assert m["a"].sp_mask == 4 and m["a"].cp_mask == 16  # header same-page, other cross-page
    assert m["b"].sp_mask == 1 and m["b"].cp_mask == 0
    assert m["c"].sp_mask == 0 and m["c"].cp_mask == 1


def test_node_geom_nopage_values(spark):
    rows = [
        ("u", "a", 1, 100.0, 100.0, 1, 0.0, 0.0, 50.0, 20.0, "t", "other"),
        ("u", "b", 1, 100.0, 100.0, 1, 10.0, 10.0, 100.0, 40.0, "t", "other"),
    ]
    g = {r.node_id: r for r in node_geom_nopage(_nodes_df(spark, rows)).collect()}
    # max_x=100, max_y=40, mean_w=70, mean_h=25
    assert g["a"].ng_x2 == pytest.approx(0.5)
    assert g["a"].ng_y2 == pytest.approx(0.5)
    assert g["a"].ng_w == pytest.approx(50.0 / 70.0)
    assert g["b"].ng_h == pytest.approx(30.0 / 25.0)
    assert g["b"].ng_w_sq == pytest.approx((90.0 / 70.0) ** 2)


def test_f8_full_onehots(spark):
    rows = [
        ("u", "a", 2, 100.0, 100.0, 3, 0.0, 0.0, 1.0, 1.0, "abc123", "other"),
        ("u", "b", 3, 100.0, 100.0, 3, 0.0, 0.0, 1.0, 1.0, "HELLO", "other"),
    ]
    nf = {r.node_id: r for r in node_features(_nodes_df(spark, rows)).collect()}
    for c in NODE_FEATURE_COLS_FULL:
        assert c in nf["a"].asDict(), f"missing feature {c}"
    a, b = nf["a"], nf["b"]
    assert (a.nf_is_alnum, a.nf_is_alpha, a.nf_is_lower, a.nf_is_upper) == (1.0, 0.0, 1.0, 0.0)
    assert (b.nf_is_alnum, b.nf_is_alpha, b.nf_is_lower, b.nf_is_upper) == (1.0, 1.0, 0.0, 1.0)
    assert (a.nf_last2, a.nf_earlier) == (1.0, 0.0)  # page 2 of 3
    assert (b.nf_last2, b.nf_earlier) == (0.0, 0.0)  # last page


def test_continuous_page_mirror_edges(spark):
    """Two-page doc: footer-zone block on p1 and header-zone block on p2
    that only align after horizontal mirroring."""
    from transkribusdu_spark.pipeline.edges import build_continuous_edges

    rows = [
        # page 1 lower half, on the LEFT
        ("u", "p1_low", 1, 1000.0, 1000.0, 2, 100.0, 900.0, 300.0, 950.0, "t", "other"),
        # page 2 upper half, on the RIGHT: mirrors to x [700..900]... make it mirror-aligned to [100,300]
        ("u", "p2_up", 2, 1000.0, 1000.0, 2, 700.0, 50.0, 900.0, 100.0, "t", "other"),
        # page 2 upper half, NOT mirror-aligned (left side -> mirrors right)
        ("u", "p2_up2", 2, 1000.0, 1000.0, 2, 100.0, 50.0, 300.0, 100.0, "t", "other"),
    ]
    nodes = _nodes_df(spark, rows)
    cpm = build_continuous_edges(nodes, mirror=True).collect()
    pairs = {(r.src, r.dst) for r in cpm}
    assert ("p1_low", "p2_up") in pairs
    no_mirror = build_continuous_edges(nodes, mirror=False).collect()
    pairs_nm = {(r.src, r.dst) for r in no_mirror}
    assert ("p1_low", "p2_up2") in pairs_nm and ("p1_low", "p2_up") not in pairs_nm


def test_boxpartition_cut_queries():
    """C8 ShapePartition queries (util/Shape.py:300-430) over boxes:
    cut validity, ribbon validity, and half-plane membership — including
    a skewed cut."""
    from transkribusdu_spark.functions.shapecut import BoxPartition

    bp = BoxPartition([[0, 0, 10, 10], [0, 20, 10, 30], [20, 0, 30, 10]])
    # horizontal cut through the gap between box0 and box1
    assert bp.is_valid_cut(0, 15, 30, 15)
    # ribbon of height 4 fits (gap is 10), height 12 does not
    assert bp.is_valid_ribbon_cut(0, 12, 30, 12, 4)
    assert not bp.is_valid_ribbon_cut(0, 12, 30, 12, 12)
    # cut through box0
    assert not bp.is_valid_cut(0, 5, 30, 5)
    # skewed cut y = 12 + 0.1x stays inside the gap over x in [0, 30]
    assert bp.is_valid_cut(0, 12, 30, 15)
    assert bp.above_line(0, 15, 30, 15) == (0, 2)
    assert bp.below_line(0, 15, 30, 15) == (1,)
    # vertical separation: box2 is right of x=15
    assert bp.left_of_line(15, 0, 15, 30) == (0, 1)
    assert bp.right_of_line(15, 0, 15, 30) == (2,)


def test_boxpartition_on_table_fixture_rows():
    """The mid-gap horizontal cuts of a planned table must be valid
    ribbon cuts (the fixture's identifiability property, stated in C8
    terms)."""
    import numpy as np

    from transkribusdu_spark.functions.shapecut import BoxPartition
    from transkribusdu_spark.synth import plan_table

    plan = plan_table(3)
    lines = plan["lines"]
    boxes = [[l["x1"], l["y1"], l["x2"], l["y2"]] for l in lines]
    bp = BoxPartition(boxes)
    # cut between consecutive row's max y2 and next row's min y1
    by_row = {}
    for l in lines:
        by_row.setdefault(l["gt_row"], []).append(l)
    rows = sorted(by_row)
    n_valid = 0
    for r0, r1 in zip(rows, rows[1:]):
        y_top = max(l["y2"] for l in by_row[r0])
        y_bot = min(l["y1"] for l in by_row[r1])
        if y_bot > y_top:
            mid = (y_top + y_bot) / 2.0
            assert bp.is_valid_cut(0, mid, 1300, mid), (r0, mid)
            n_valid += 1
    assert n_valid >= 1


def test_page_cut_rows_pass_boxpartition_on_fixture_pages(sf_dir):
    """Every cut the gap scan behind valid_horizontal_cuts emits is a
    valid full-width cut under the BoxPartition interval algebra, on
    every page of the sf0.01 fixture documents."""
    import os

    from transkribusdu_spark.functions.shapecut import BoxPartition, page_cut_rows
    from transkribusdu_spark.pipeline.parse import parse_doc_cols
    from transkribusdu_spark.synth import render_doc

    sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    docs = pd.read_parquet(f"{sf}/documents.parquet", columns=["doc_id", "text", "lang"])
    n_cuts = 0
    for r in docs.itertuples():
        url, _, html = render_doc(int(r.doc_id), r.text, r.lang)
        nodes = pd.DataFrame(parse_doc_cols(url, html))
        for _, page in nodes.groupby("page_num"):
            boxes = list(zip(page.x1, page.y1, page.x2, page.y2))
            bp, w = BoxPartition(boxes), float(page.page_w.iloc[0])
            for cut in page_cut_rows(boxes):
                assert bp.is_valid_cut(0.0, cut["cut_y"], w, cut["cut_y"]), (url, cut)
                n_cuts += 1
    assert n_cuts > len(docs)


def test_edge_sequentiality_f11(spark):
    """Page-number sequentiality (Transformer_PageXml.py:424-440 +
    PageNumberSimpleSequenciality.py): int(sA)+1 == int(sB), signed,
    split by same-page vs cross-page; non-integers never sequence."""
    from transkribusdu_spark.pipeline.edgefeats import edge_sequentiality

    df = spark.createDataFrame(
        [
            ("u", "a", "b", "V", "1", "2"),
            ("u", "b", "a", "V", "2", "1"),
            ("u", "a", "c", "CP", "1", "2"),
            ("u", "a", "d", "V", "1", "3"),
            ("u", "a", "e", "V", "x", "x"),
        ],
        "url string, src string, dst string, etype string, src_text string, dst_text string",
    )
    rows = {(r.src, r.dst): r for r in edge_sequentiality(df).collect()}
    assert rows[("a", "b")].ef_seq_sp == 1.0 and rows[("a", "b")].ef_seq_cp == 0.0
    assert rows[("b", "a")].ef_seq_sp == -1.0
    assert rows[("a", "c")].ef_seq_cp == 1.0 and rows[("a", "c")].ef_seq_sp == 0.0
    assert rows[("a", "d")].ef_seq_sp == 0.0
    assert rows[("a", "e")].ef_seq_sp == 0.0 and rows[("a", "e")].ef_same_text == 1.0


def test_clusters_with_hulls_c4(spark):
    from transkribusdu_spark.pipeline.segment import clusters_with_hulls

    clusters = spark.createDataFrame(
        [("u", 0, ["a", "b"], None, "cc")],
        "url string, cluster_id int, node_ids array<string>, proba double, algo string",
    )
    nodes = spark.createDataFrame(
        [("u", "a", 0.0, 0.0, 10.0, 10.0), ("u", "b", 20.0, 0.0, 30.0, 10.0)],
        "url string, node_id string, x1 double, y1 double, x2 double, y2 double",
    )
    r = clusters_with_hulls(clusters, nodes).collect()[0]
    assert r.n_nodes == 2
    pts = {tuple(map(int, p.split(","))) for p in r.hull_points.split(" ")}
    # hull of the two boxes' corners = the 4 outer corners
    assert pts == {(0, 0), (30, 0), (30, 10), (0, 10)}


def test_boxpartition_vertical_segment_spans_both_endpoints():
    """A vertical cut segment (xa == xb) covers [min(ya,yb), max(ya,yb)],
    not just ya: a box crossed strictly between the endpoints must be
    detected (regression guard for the single-endpoint bug)."""
    from transkribusdu_spark.functions.shapecut import BoxPartition

    bp = BoxPartition([[0, 4, 2, 6]])  # box y-range [4, 6], x-range [0, 2]
    # vertical segment at x=1 from y=0 to y=10 passes through the box
    assert not bp.is_valid_cut(1, 0, 1, 10)
    assert tuple(bp.intersecting_ribbon(1, 0, 1, 10)) == (0,)
    # endpoint order must not matter
    assert not bp.is_valid_cut(1, 10, 1, 0)
    # a vertical segment left of the box misses it
    assert bp.is_valid_cut(-1, 0, -1, 10)
