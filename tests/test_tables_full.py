"""Full C9 table-row detection + E5 partition evaluation + F20/M2-XOR.

The fixture family (synth.plan_table) has bounded jitter/skew so the
cut miner is entitled to recover every row exactly; the evaluator is
exercised on imperfect partitions too."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from transkribusdu_spark.pipeline.tablerows import (
    compute_prf,
    detect_doc_rows,
    detect_table_rows,
    eval_doc_rows,
    eval_partitions,
    eval_row_clusters,
    mine_row_cuts,
)
from transkribusdu_spark.synth import plan_table, table_lines_df


def test_mine_row_cuts_support_threshold():
    # 3 cols; a row top present in all cols; a noise top in one col only
    tops = [(100.0, 0), (102.0, 1), (104.0, 2), (300.0, 1)]
    assert mine_row_cuts(tops, 3, thnum=10, thsup=0.5) == [100.0]
    assert mine_row_cuts(tops, 3, thnum=10, thsup=0.2) == [100.0, 300.0]
    # chaining: gaps <= thnum merge into one cluster
    assert mine_row_cuts([(0.0, 0), (9.0, 1), (18.0, 2)], 3, 10, 0.9) == [0.0]


def test_eval_partitions_and_prf():
    run = [["a", "b"], ["c"], ["x"]]
    gt = [["a", "b"], ["c", "d"]]
    ok, err, miss = eval_partitions(run, gt, th=1.0)
    assert (ok, err, miss) == (1, 2, 1)
    ok, err, miss = eval_partitions(run, gt, th=0.5)
    assert (ok, err, miss) == (2, 1, 0)
    p, r, f = compute_prf(2, 1, 0)
    assert (p, r) == (2 / 3, 1.0) and f == pytest.approx(0.8)
    assert eval_partitions([], gt, 0.5) == (0, 0, 2)


def test_fixture_rows_detected_exactly_local():
    for tid in (0, 7, 23):
        plan = plan_table(tid)
        cols = {k: np.array([ln[k] for ln in plan["lines"]]) for k in plan["lines"][0]}
        cols["url"] = np.array([plan["url"]] * len(plan["lines"]), dtype=object)
        out = detect_doc_rows(cols)
        assert out["node_id"] == cols["node_id"].tolist()
        ev = eval_doc_rows(dict(cols, row_id=np.array(out["row_id"])), 1.0)
        ok, err, miss = ev["n_ok"][0], ev["n_err"][0], ev["n_miss"][0]
        assert (err, miss) == (0, 0) and ok == plan["n_rows"]


def test_table_rows_distributed_perfect_f1(spark):
    lines = table_lines_df(spark, n_tables=12).cache()
    pred = detect_table_rows(lines)
    ev = eval_row_clusters(pred, lines, simil=1.0)
    rows = ev.collect()
    assert len(rows) == 12
    assert all(r.f1 == 1.0 and r.n_err == 0 and r.n_miss == 0 for r in rows)


def test_node_edge_agg_f20(spark):
    from transkribusdu_spark.pipeline.edgefeats import node_edge_agg

    nodes = spark.createDataFrame(
        [("u", "a"), ("u", "b"), ("u", "c")], "url string, node_id string"
    )
    ef = spark.createDataFrame(
        [("u", "a", "b", 1.0), ("u", "a", "c", 3.0)],
        "url string, src string, dst string, ef_iou double",
    )
    out = {r.node_id: r for r in node_edge_agg(nodes, ef, ["ef_iou"]).collect()}
    assert out["a"].ne_sum_ef_iou == 4.0
    assert out["b"].ne_sum_ef_iou == 1.0
    assert out["c"].ne_sum_ef_iou == 3.0
    mean = {r.node_id: r for r in node_edge_agg(nodes, ef, ["ef_iou"], "mean").collect()}
    assert mean["a"].ne_mean_ef_iou == 2.0


def test_apply_xor_exactly_one(spark):
    from transkribusdu_spark.pipeline.model import apply_xor

    df = spark.createDataFrame(
        [
            ("u", 1, "n1", "other", 0.9),
            ("u", 1, "n2", "page-number", 0.4),
            ("u", 1, "n3", "page-number", 0.6),
            ("u", 2, "n4", "other", 0.2),
        ],
        "url string, page_num int, node_id string, pred_label string, proba double",
    )
    out = apply_xor(df, "page-number", "proba")
    got = {r.node_id: r.pred_label for r in out.collect()}
    # page 1: highest-proba node takes the label, others demoted
    assert got["n1"] == "page-number" and got["n2"] == "other" and got["n3"] == "other"
    # page 2: at-least-one half promotes the only node
    assert got["n4"] == "page-number"
