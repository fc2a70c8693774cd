"""Span arithmetic and Spark event-log attribution for the traced run.

A span is one timed call on the driver: ``{"id", "name", "parent",
"start", "end"}`` (unix seconds; ``parent`` is another span's id or
None). The traced driver tags the Spark jobs started inside a span with
the span's name as job description, so the event log's task metrics can
be summed per span afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

import pyarrow as pa

MB = 2**20

# SQL metric names as the event log carries them in task accumulables
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
ROWS_OUT = "number of output rows"


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of it its child spans cover."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, lo_end = 0.0, s["start"]
        cs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids[s["id"]])
        for lo, hi in cs:
            lo = max(lo, lo_end)
            if hi > lo:
                covered += hi - lo
                lo_end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def coverage(spans: list[dict]) -> float:
    """Summed self time of every non-root span over the root's duration."""
    own = self_times(spans)
    root = next(s for s in spans if s["parent"] is None)
    wall = root["end"] - root["start"]
    return sum(t for i, t in own.items() if i != root["id"]) / wall


def read_event_log(path: str) -> list[dict]:
    """Events of the one application logged under ``path`` (an event-log
    directory as ``spark.eventLog.dir`` names it). Handles the rolling
    v2 layout and plain files, uncompressed or zstd."""
    apps = [p for p in glob.glob(os.path.join(path, "*")) if not os.path.basename(p).startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"expected one application log under {path}, found {len(apps)}")
    app = apps[0]
    if os.path.isdir(app):
        files = sorted(glob.glob(os.path.join(app, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    else:
        files = [app]
    events = []
    for f in files:
        if f.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(f), "zstd") as s:
                text = s.read().decode()
        elif f.endswith((".lz4", ".snappy", ".lzf")):
            raise ValueError(f"unsupported event-log codec: {f}")
        else:
            with open(f) as fh:
                text = fh.read()
        events += [json.loads(line) for line in text.splitlines() if line.strip()]
    return events


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _plan_nodes(c)


def join_output_accumulators(events: list[dict], key: str) -> set[int]:
    """Accumulator ids of ``number of output rows`` on every join whose
    condition is an equi-join on column ``key`` (by the physical plans of
    every SQL execution, AQE re-plans included)."""
    ids = set()
    for e in events:
        info = e.get("sparkPlanInfo")
        if not info:
            continue
        for node in _plan_nodes(info):
            s = node.get("simpleString", "")
            if "Join" in node.get("nodeName", "") and s.count(f"[{key}#") >= 2:
                ids |= {m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == ROWS_OUT}
    return ids


def _new_stats() -> dict:
    return {"task_cpu_s": 0.0, "python_s": 0.0, "python_io_mb": 0.0, "shuffle_mb": 0.0,
            "spill_mb": 0.0, "gc_s": 0.0, "tasks_failed": 0, "stage_tasks": defaultdict(list)}


def attribute(events: list[dict], accumulators: set[int] = frozenset()) -> tuple[dict, int]:
    """Task metrics summed per job description (= span name).

    Returns ({description: metrics}, summed updates of ``accumulators``).
    A stage belongs to the first job that lists it; tasks of jobs without
    a description go under ``""``. ``task_skew`` is the slowest over the
    median task run time of the span's stage with the most task time."""
    stage_owner: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description", "")
            for sid in e["Stage IDs"]:
                stage_owner.setdefault(sid, desc)
    per: dict[str, dict] = defaultdict(_new_stats)
    acc_total = 0
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        st = per[stage_owner.get(e["Stage ID"], "")]
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        ok = e["Task End Reason"]["Reason"] == "Success" and not info["Failed"] and not info["Killed"]
        if not ok or info["Attempt"] > 0:
            st["tasks_failed"] += 1
        st["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        st["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
        st["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
        st["stage_tasks"][e["Stage ID"]].append(tm.get("Executor Run Time", 0))
        for a in info.get("Accumulables", []):
            name = a.get("Name")
            if name == PY_RUN:
                st["python_s"] += int(a["Update"]) / 1e3
            elif name in (PY_SENT, PY_RETURNED):
                st["python_io_mb"] += int(a["Update"]) / MB
            if a.get("ID") in accumulators:
                acc_total += int(a["Update"])
    out = {}
    for desc, st in per.items():
        tasks = st.pop("stage_tasks")
        heaviest = max(tasks.values(), key=sum)
        med = statistics.median(heaviest)
        st["task_skew"] = max(heaviest) / med if med > 0 else 1.0
        out[desc] = st
    return out, acc_total
