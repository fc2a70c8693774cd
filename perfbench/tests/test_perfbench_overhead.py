"""The tracing overhead compares traced and untraced runs of the same code only."""

import json

import pytest

from perfbench import overhead


def write(d, name, trace, wall, digest="a", correct=True, nproc=4):
    d.mkdir(exist_ok=True)
    (d / f"{name}.json").write_text(json.dumps({
        "workload": "w", "trace": trace, "correct": correct, "driver_memory": "2g",
        "box": {"code_digest": digest, "nproc": nproc}, "launch": {"wall_s": wall}}))


def test_overhead_uses_runs_of_the_same_code(tmp_path):
    for i, wall in enumerate([60, 62, 64]):
        write(tmp_path, f"u{i}", 0, wall)
    write(tmp_path, "t0", 1, 77.5)
    # another commit, another box and a failed run must not be the baseline
    write(tmp_path, "old", 0, 30, digest="b")
    write(tmp_path, "box", 0, 30, nproc=8)
    write(tmp_path, "bad", 0, 30, correct=False)
    rows = overhead.overhead(str(tmp_path))
    assert len(rows) == 1
    r = rows[0]
    assert (r["code_digest"], r["untraced_runs"], r["traced_runs"]) == ("a", 3, 1)
    assert r["overhead_frac"] == pytest.approx(77.5 / 62 - 1)


def test_no_traced_runs_no_overhead(tmp_path):
    write(tmp_path, "u0", 0, 60)
    write(tmp_path, "t0", 1, 70, digest="b")
    assert overhead.overhead(str(tmp_path)) == []
