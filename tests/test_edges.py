"""Line-of-sight edge kernel: literal-layout tests mirroring the
reference's masking/visibility semantics (SURVEY.md §2.3 J1-J8)."""

import numpy as np
import pandas as pd
import pytest

from transkribusdu_spark.pipeline.edges import (
    GRID,
    PREFILTER_MIN,
    _box_iou,
    _empty_out,
    _los_pass,
    doc_continuous_edges_arrays,
    doc_edges,
)


def _subtract_seen(lo, hi, seen):
    """Length of [lo,hi] not covered by the union of ``seen`` intervals
    (the visibility mask, reference ``util/masking.py:57-94``)."""
    if hi <= lo:
        return 0.0
    segs = [(lo, hi)]
    for s_lo, s_hi in seen:
        nxt = []
        for a, b in segs:
            if s_hi <= a or s_lo >= b:
                nxt.append((a, b))
            else:
                if a < s_lo:
                    nxt.append((a, s_lo))
                if s_hi < b:
                    nxt.append((s_hi, b))
        segs = nxt
        if not segs:
            return 0.0
    return float(sum(b - a for a, b in segs))


def _los_reference(a1, a2, b1, b2, mode):
    """Per-pair seen-list line-of-sight scan, the reference for
    :func:`_los_pass`: every candidate re-scans all earlier windows of
    its block through :func:`_subtract_seen`."""
    ga1, ga2, gb1, gb2 = ([round(v / GRID) * GRID for v in c.tolist()] for c in (a1, a2, b1, b2))
    order = sorted(range(len(ga1)), key=lambda k: (gb1[k], ga1[k]))
    n = len(order)
    for ii in range(n):
        i = order[ii]
        ai1, ai2, bot = ga1[i], ga2[i], gb2[i]
        len_i = ai2 - ai1
        seen = []
        for jj in range(ii + 1 if mode == "g1o" else 0, n):
            j = order[jj]
            if jj == ii or (mode != "g1o" and gb1[j] < bot):
                continue
            lo, hi = max(ai1, ga1[j]), min(ai2, ga2[j])
            if hi <= lo:
                continue
            visible = _subtract_seen(lo, hi, seen)
            if visible > 0.0:
                len_j = ga2[j] - ga1[j]
                ov = visible if mode == "g2" else hi - lo
                iou = ov / (len_i + len_j - ov) if (len_i + len_j - ov) > 0 else 0.0
                length = gb1[j] - bot
                if mode != "g1o":
                    length = max(length, 0.0)
                yield i, j, float(length), float(ov), float(iou)
            seen.append((lo, hi))
            if _subtract_seen(ai1, ai2, seen) <= 0.0:
                break


def _nodes(rows):
    return pd.DataFrame(
        [
            dict(url="u", page_num=p, node_id=nid, x1=float(x1), y1=float(y1),
                 x2=float(x2), y2=float(y2))
            for nid, p, x1, y1, x2, y2 in rows
        ]
    )


def _pairs(edges, etype):
    return {(r.src, r.dst) for r in edges.itertuples() if r.etype == etype}


def test_stacked_blocks_occlusion():
    # A above B above C, same x-range: A-B and B-C, never A-C (occluded).
    e = doc_edges(_nodes([
        ("A", 1, 100, 100, 500, 150),
        ("B", 1, 100, 200, 500, 250),
        ("C", 1, 100, 300, 500, 350),
    ]))
    assert _pairs(e, "V") == {("A", "B"), ("B", "C")}


def test_partial_occlusion_keeps_visible_slice():
    # B covers only the left half between A and C: A sees B (left) and C
    # (right half remains visible through the mask).
    e = doc_edges(_nodes([
        ("A", 1, 100, 100, 500, 150),
        ("B", 1, 100, 200, 300, 250),
        ("C", 1, 100, 300, 500, 350),
    ]))
    v = _pairs(e, "V")
    assert ("A", "B") in v and ("A", "C") in v and ("B", "C") in v


def test_full_occlusion_by_two_halves():
    # B and C side by side fully cover A's span: D below is not visible.
    e = doc_edges(_nodes([
        ("A", 1, 100, 100, 500, 150),
        ("B", 1, 100, 200, 300, 250),
        ("C", 1, 300, 200, 500, 250),
        ("D", 1, 100, 300, 500, 350),
    ]))
    v = _pairs(e, "V")
    assert ("A", "B") in v and ("A", "C") in v
    assert ("A", "D") not in v


def test_horizontal_edges():
    e = doc_edges(_nodes([
        ("L", 1, 100, 100, 200, 300),
        ("R", 1, 300, 100, 400, 300),
    ]))
    assert _pairs(e, "H") == {("L", "R")}
    assert _pairs(e, "V") == set()


def test_no_edge_without_projection_overlap():
    # Diagonal blocks: no x-overlap, no y-overlap -> no V/H edges.
    e = doc_edges(_nodes([
        ("A", 1, 100, 100, 200, 200),
        ("B", 1, 300, 300, 400, 400),
    ]))
    assert len(e[e.etype.isin(["V", "H"])]) == 0


def test_edge_attributes():
    e = doc_edges(_nodes([
        ("A", 1, 100, 100, 500, 150),
        ("B", 1, 200, 250, 400, 300),
    ]))
    r = e[e.etype == "V"].iloc[0]
    assert r.length == 100.0  # gap 250-150
    assert r.overlap == 200.0  # [200,400]
    # projection IoU: 200 / (400 + 200 - 200)
    assert r.iou == pytest.approx(200.0 / 400.0)


def test_cross_page_edges_on_iou():
    # Same box position on page 1 and 2 -> CP edge; disjoint -> none.
    e = doc_edges(_nodes([
        ("h1", 1, 100, 40, 500, 80),
        ("h2", 2, 100, 40, 500, 80),
        ("x2", 2, 600, 600, 700, 700),
    ]))
    assert _pairs(e, "CP") == {("h1", "h2")}


def test_subtract_seen_interval_algebra():
    # mirrors reference masking tests (util/masking.py:95-151)
    assert _subtract_seen(0, 10, []) == 10
    assert _subtract_seen(0, 10, [(0, 10)]) == 0
    assert _subtract_seen(0, 10, [(2, 4), (6, 8)]) == 6
    assert _subtract_seen(0, 10, [(-5, 5)]) == 5
    assert _subtract_seen(0, 10, [(5, 15)]) == 5
    assert _subtract_seen(0, 10, [(0, 5), (5, 10)]) == 0


def test_box_iou():
    assert _box_iou(0, 0, 10, 10, 0, 0, 10, 10) == 1.0
    assert _box_iou(0, 0, 10, 10, 20, 20, 30, 30) == 0.0
    assert _box_iou(0, 0, 10, 10, 5, 0, 15, 10) == pytest.approx(50 / 150)


def test_spark_edges_on_synth(spark, sf_dir):
    from transkribusdu_spark.pipeline.edges import build_edges
    from transkribusdu_spark.pipeline.parse import parse_pages
    from transkribusdu_spark.synth import pages_from_documents

    nodes = parse_pages(pages_from_documents(spark, sf_dir))
    edges = build_edges(nodes)
    pdf = edges.limit(5000).toPandas()
    assert len(pdf) > 0
    assert set(pdf.etype.unique()) <= {"V", "H", "CP"}
    # every edge endpoint must exist among the document's nodes
    n = nodes.select("url", "node_id").toPandas()
    keys = set(zip(n.url, n.node_id))
    for r in pdf.itertuples():
        assert (r.url, r.src) in keys and (r.url, r.dst) in keys


def _fuzz_boxes(rng, n, kind):
    if kind == "grid":  # tie-heavy: few distinct sweep starts and columns
        xs = rng.integers(0, 4, n) * 300.0
        ys = rng.integers(0, 6, n) * 100.0
        a1 = xs + rng.integers(0, 3, n)
        a2 = a1 + rng.integers(0, 400, n)
        b1, b2 = ys, ys + rng.integers(-10, 150, n)
    elif kind == "zero":  # many zero-width and inverted boxes
        a1 = rng.integers(0, 50, n) * 10.0
        a2 = a1 + rng.integers(-1, 3, n) * 10.0
        b1 = rng.integers(0, 50, n) * 10.0
        b2 = b1 + rng.integers(-1, 2, n) * 10.0
    elif kind == "cols":  # stacked columns: long candidate suffixes
        a1 = rng.integers(0, 3, n) * 500.0 + rng.uniform(0, 5, n)
        a2 = a1 + 480 + rng.uniform(-3, 3, n)
        b1 = np.sort(rng.uniform(0, 5000, n))
        b2 = b1 + rng.uniform(1, 60, n)
    else:  # free-floating, some inverted
        a1 = rng.uniform(0, 1000, n)
        a2 = a1 + rng.uniform(-50, 400, n)
        b1 = rng.uniform(0, 2000, n)
        b2 = b1 + rng.uniform(-20, 200, n)
    return a1, a2, b1, b2


def test_los_pass_matches_seen_list_reference_fuzz():
    """The uncovered-segment sweep (with its vectorized prefilter on long
    candidate suffixes) emits exactly the reference's tuples, in the
    same order, for every mode, across n = 0..400."""
    rng = np.random.default_rng(7)
    kinds = ("grid", "zero", "cols", "rand")
    trials = 3000
    sizes = set()
    for t in range(trials):
        # mostly small pages; every 5th up to 200 nodes, every 25th past
        # the prefilter threshold up to 400
        if t % 25 == 0:
            n = int(rng.integers(PREFILTER_MIN + 1, 401))
        elif t % 5 == 0:
            n = int(rng.integers(0, 201))
        else:
            n = int(rng.integers(0, 49))
        sizes.add(n)
        a1, a2, b1, b2 = _fuzz_boxes(rng, n, kinds[t % 4])
        ids = np.arange(n)
        for mode in ("g1", "g2", "g1o"):
            got = list(_los_pass(ids, a1, a2, b1, b2, mode))
            want = list(_los_reference(a1, a2, b1, b2, mode))
            assert got == want, (t, n, kinds[t % 4], mode)
    assert min(sizes) <= 1 and max(sizes) > 3 * PREFILTER_MIN


def _two_page_nodes(garbage):
    rows = [
        ("A", 1, 100, 100, 500, 150), ("B", 1, 100, 200, 300, 250),
        ("C", 1, 300, 200, 500, 250), ("D", 1, 100, 600, 500, 900),
        ("E", 1, 600, 100, 700, 900),
        ("F", 2, 100, 40, 500, 80), ("G", 2, 100, 100, 500, 150),
        ("H", 2, 600, 40, 700, 300),
    ]
    if garbage:
        # a NaN box and an infinite box on each page, sitting between and
        # over the finite ones: they must neither get edges nor occlude
        nan, inf = float("nan"), float("inf")
        rows += [
            ("N1", 1, 100, nan, 500, 180), ("I1", 1, 0, 160, inf, 190),
            ("N2", 2, nan, 90, 500, 110), ("I2", 2, 0, 85, 500, inf),
        ]
    pdf = _nodes(rows)
    pdf["page_h"], pdf["page_w"] = 1000.0, 800.0
    return pdf


def test_non_finite_boxes_get_no_edges_and_hide_nothing():
    clean, dirty = _two_page_nodes(False), _two_page_nodes(True)
    for mode in ("g1", "g2", "g1o"):
        want = doc_edges(clean, mode=mode)
        got = doc_edges(dirty, mode=mode)
        assert len(want) and {"V", "H", "CP"} <= set(want.etype)
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want)

    def continuous(pdf):
        out = _empty_out()
        doc_continuous_edges_arrays(
            "u", *(pdf[c].to_numpy() for c in ("node_id", "page_num")),
            *(pdf[c].to_numpy(dtype=np.float64) for c in ("page_h", "page_w", "x1", "y1", "x2", "y2")),
            out,
        )
        return out

    want = continuous(clean)
    assert want["etype"] and set(want["etype"]) == {"CPM"}
    assert continuous(dirty) == want
