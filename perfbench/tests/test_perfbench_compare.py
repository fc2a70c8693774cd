"""The compare tool's verdict rule."""

import json

from perfbench import compare

SPEC = {"workloads": [{"name": "w"}],
        "end_to_end": [{"name": "docs_per_s", "better": "higher", "bound": 0.1},
                       {"name": "peak_rss_mb", "better": "lower", "bound": 0.1}]}


def write(d, seeds, docs, rss, trace=0):
    d.mkdir(exist_ok=True)
    for s, a, b in zip(seeds, docs, rss):
        (d / f"r{s}-{trace}.json").write_text(json.dumps({
            "workload": "w", "seed": s, "trace": trace, "correct": True,
            "metrics": {"docs_per_s": {"value": a}, "peak_rss_mb": {"value": b}}}))


def test_verdicts(tmp_path):
    seeds = range(10)
    write(tmp_path / "p", seeds, [100 + i % 3 for i in seeds], [1000 + i % 3 for i in seeds])
    # faster in every pair; memory 20 % worse
    write(tmp_path / "c", seeds, [110 + i % 3 for i in seeds], [1200 + i % 3 for i in seeds])
    # a traced run is not an end-to-end sample
    write(tmp_path / "c", [99], [1.0], [1.0], trace=1)
    rows = {r["metric"]: r for r in compare.compare(tmp_path / "p", tmp_path / "c", SPEC)}
    assert rows["docs_per_s"]["verdict"] == "gain" and rows["docs_per_s"]["wins"] == 10
    assert rows["peak_rss_mb"]["verdict"] == "regression"


def test_fewer_than_ten_pairs_give_no_verdict(tmp_path):
    write(tmp_path / "p", range(10), [100] * 10, [1000] * 10)
    # nine shared seeds, all far better, and two seeds without a partner
    write(tmp_path / "c", [*range(9), 20, 21], [200] * 11, [500] * 11)
    rows = compare.compare(tmp_path / "p", tmp_path / "c", SPEC)
    assert {r["verdict"] for r in rows} == {"missing"}
    assert {(r["pairs"], r["unpaired"]) for r in rows} == {(9, 3)}

    few = [(100, 200)] * 3
    v = compare.verdict([100, 101, 102], [200, 201, 202], few, 0.1, True)
    assert v["wins"] == 3 and v["verdict"] != "gain"


def test_wide_parent_spread_is_unresolved():
    parent = [80, 120, 90, 110, 100, 85, 115, 95, 105, 100]
    change = [p + 1 for p in parent]
    v = compare.verdict(parent, change, list(zip(parent, change)), 0.1, True)
    assert v["verdict"] == "unresolved"
    # unless every change run beats every parent run
    far = [p + 100 for p in parent]
    assert compare.verdict(parent, far, list(zip(parent, far)), 0.1, True)["verdict"] == "gain"


def test_small_difference_is_same():
    parent = [100.0 + i % 2 for i in range(10)]
    change = [100.5 + i % 2 for i in range(10)]
    v = compare.verdict(parent, change, list(zip(parent, change)), 0.1, True)
    assert v["verdict"] == "same"
