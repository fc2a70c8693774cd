"""Span self-time arithmetic and event-log attribution."""

import json
import os
import shutil

import pyarrow as pa
import pytest

from perfbench import spans as sp

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        span(0, "run", None, 0.0, 10.0),
        span(1, "a", 0, 1.0, 4.0),
        span(2, "b", 0, 3.0, 6.0),  # overlaps a by 1 s: counted once
        span(3, "c", 0, 9.0, 12.0),  # runs past the parent: clipped at 10
        span(4, "a.inner", 1, 2.0, 3.0),
    ]
    own = sp.self_times(spans)
    assert own[0] == pytest.approx(10 - (6 - 1) - (10 - 9))
    assert own[1] == pytest.approx(3 - 1)
    assert own[2] == pytest.approx(3)
    assert own[4] == pytest.approx(1)


def test_coverage_is_child_self_time_over_root_wall():
    spans = [span(0, "run", None, 0.0, 10.0), span(1, "a", 0, 0.0, 4.0),
             span(2, "b", 0, 5.0, 9.0), span(3, "b.x", 2, 5.0, 6.0)]
    # a 4 + b 3 + b.x 1 = 8 of 10 s
    assert sp.coverage(spans) == pytest.approx(0.8)


def _captured_log(tmp_path, compress: bool) -> str:
    app = tmp_path / "eventlog_v2_local-1" if compress else tmp_path
    app.mkdir(exist_ok=True)
    src = os.path.join(DATA, "events_small.jsonl")
    if compress:
        with open(src, "rb") as f, pa.CompressedOutputStream(
                str(app / "events_1_local-1.zstd"), "zstd") as out:
            out.write(f.read())
    else:
        shutil.copy(src, app / "local-1")
    return str(tmp_path)


@pytest.mark.parametrize("compress", [False, True])
def test_event_log_attribution_on_captured_log(tmp_path, compress):
    events = sp.read_event_log(_captured_log(tmp_path, compress))
    band = sp.join_output_accumulators(events, "bucket")
    per, candidates = sp.attribute(events, band)
    assert set(per) == {"", "ops.dedup", "ops.dedupgraph"}
    d = per["ops.dedup"]
    with open(os.path.join(DATA, "events_small_expected.json")) as f:
        want = json.load(f)
    for k, v in want["ops.dedup"].items():
        assert d[k] == pytest.approx(v), k
    assert candidates == want["band_join_rows"]
    # a failed task attempt is counted against the span that ran it
    assert per["ops.dedupgraph"]["tasks_failed"] == 1
