"""The repo benchmark: spark-submit workloads with end-to-end, per-layer
and traced metrics (see perfbench/README.md).

    python3 perfbench/run.py --driver-memory 2g --min-coverage 0.9 \
        --workload segment --seed 1 --seconds 30 --trace 0

One invocation generates the workload's input snapshot from ``--seed``
(untimed, parquet written with pyarrow), launches the workload once with
``spark-submit --master local[<nproc>] --py-files <package zip>``,
checks the launch's output and prints one JSON line: ``correct``,
``attempted`` and ``failed`` input documents, and the metrics.

``--trace 0`` reports the end-to-end metrics of that launch.
``--trace 1`` makes the launch traced (event log on) and reports the
per-layer metrics. Every run also writes a JSON result file with its box
record under ``.perfbench/results/``; ``perfbench/compare.py`` diffs two
sets of them, and ``perfbench/overhead.py`` gives the tracing overhead
from the traced and untraced runs of one set.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVERS = os.path.join(ROOT, "perfbench", "drivers")
CODE_DIRS = ["transkribusdu_spark", "jobs", "tools", "perfbench"]
REQUIRED = ["transkribusdu_spark/__init__.py", "jobs/corpus_job.py", "tools/submitlib.py",
            "tools/make_pyfiles.py", "tools/make_truth.py", "bench.py"]
DEADLINE_S = 170  # a run ends within 180 s; a launch that does not fit is cut

# Why each workload: see perfbench/README.md. ``n`` is input documents
# (segment) or distinct urls (corpus_dedup); both sizes keep one launch
# above its fixed start-up and stage costs without leaving the run budget.
WORKLOADS = {
    "segment": {"n": 1200, "app": os.path.join(DRIVERS, "segment_job.py")},
    "corpus_dedup": {"n": 1500, "app": os.path.join(ROOT, "jobs", "corpus_job.py")},
}

# the spans of perfbench/drivers/traced.py that wrap a package layer
LAYERS = ["pipeline.extract", "pipeline.parse", "pipeline.lineage", "pipeline.edges",
          "pipeline.segment", "pipeline.features", "pipeline.model", "ops.urls",
          "ops.dedup", "ops.dedupgraph"]
LAYER_METRICS = {"wall_s": "s", "task_cpu_s": "s", "python_s": "s", "python_io_mb": "MB",
                 "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s", "task_skew": "ratio",
                 "tasks_failed": "count", "rows_out": "count"}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def preflight() -> None:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a repository checkout, missing {', '.join(missing)}")
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from submitlib import SPARK_SUBMIT

    if not os.path.exists(SPARK_SUBMIT):
        sys.exit("perfbench: spark-submit not found")


def code_digest() -> str:
    """sha256 over the Python sources of the measured program and this
    benchmark: results with equal digests measured the same code, with or
    without git."""
    h = hashlib.sha256()
    for d in CODE_DIRS:
        for path in sorted(glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def box_record(master: str) -> dict:
    """The machine and software a result was measured on."""
    import pyarrow
    import pyspark

    import bench

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    with open("/proc/cpuinfo") as f:
        model = next((line.split(":", 1)[1].strip() for line in f if line.startswith("model name")), "")
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = None  # a plain source checkout
    return {
        "nproc": nproc(), "mem_gb": round(mem_kb / 2**20, 2), "cpu_model": model,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "pyarrow": pyarrow.__version__, "git_commit": commit, "code_digest": code_digest(),
        "master": master,
        "cpu_busy_frac_start": round(bench._cpu_busy_frac(), 4),
        "cpu_probe_start_s": bench._cpu_probe_sec(),
        "cpu_probe_par_start_s": bench._cpu_probe_par_sec(nproc()),
    }


def end_probes() -> dict:
    import bench

    return {"cpu_probe_end_s": bench._cpu_probe_sec(),
            "cpu_probe_par_end_s": bench._cpu_probe_par_sec(nproc())}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One invocation: its inputs, work area and launches."""

    def __init__(self, a: argparse.Namespace):
        from perfbench import checks, launch

        self.a, self.checks, self.launch = a, checks, launch
        self.t_begin = time.monotonic()
        self.master = f"local[{nproc()}]"
        self.conf = {"spark.driver.memory": a.driver_memory}
        self.work = os.path.join(WORK, f"work-{os.getpid()}")

    def prepare(self) -> None:
        """Package zip, input snapshot and truth, in a fresh work area."""
        from perfbench import gen

        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.zip = self.launch.build_zip(os.path.join(self.work, "transkribusdu_spark.zip"))
        n = WORKLOADS[self.a.workload]["n"]
        if self.a.workload == "corpus_dedup":
            self.snap = gen.dedup_snapshot(self.a.seed, n)
            self.truth = None
        else:
            self.snap = gen.distinct_snapshot(self.a.seed, n)
            self.truth = self.checks.segment_truth(self.snap, self.a.seed)
        self.pages = os.path.join(self.work, "pages")
        gen.write_pages(self.snap.pages, self.pages)
        self.docs = self.snap.pages.num_rows

    def remaining_s(self) -> float:
        return DEADLINE_S - (time.monotonic() - self.t_begin)

    def launch_once(self, tag: str, traced: bool = False) -> dict:
        """One measured spark-submit launch of the workload, checked."""
        out = os.path.join(self.work, f"out-{tag}")
        run_id = f"{tag}-{uuid.uuid4().hex[:8]}"
        conf = dict(self.conf)
        if traced:
            events = os.path.join(self.work, f"events-{tag}")
            os.makedirs(events)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events})
            spans_path = os.path.join(self.work, f"spans-{tag}.json")
            app = os.path.join(DRIVERS, "traced.py")
            args = ["--workload", self.a.workload, "--pages", self.pages, "--output", out,
                    "--run-id", run_id, "--spans", spans_path]
        else:
            app = os.path.join(DRIVERS, "ready.py")
            args = [WORKLOADS[self.a.workload]["app"], "--pages", self.pages, "--output", out]
            if self.a.workload != "segment":
                args += ["--run-id", run_id]
        cmd = self.launch.submit_cmd(app, args, master=self.master, zip_path=self.zip, conf=conf)
        t_launch = time.time()
        r = self.launch.run(cmd, cwd=ROOT, timeout_s=max(self.remaining_s() - 10, 1),
                            log_path=os.path.join(self.work, f"{tag}.log"))
        rec = {"tag": tag, "wall_s": r.wall_s, "cpu_s": r.cpu_s, "peak_rss_mb": r.peak_rss_mb,
               "steal_frac": r.steal_frac,
               "returncode": r.returncode, "t_launch": t_launch, "t_exit": t_launch + r.wall_s}
        if r.returncode != 0:
            log(f"launch {tag} exited {r.returncode}:\n{r.stderr_tail}")
            rec["failed"] = self.docs
            return rec
        rec["failed"] = self.checks.check(self.a.workload, self.snap, self.truth, out)
        if traced:
            rec["output_mb"] = sum(os.path.getsize(os.path.join(d, f))
                                   for d, _, fs in os.walk(out) for f in fs) / 2**20
            with open(spans_path) as f:
                rec["spans"] = json.load(f)
            rec["events"] = events
        else:
            marks = [json.loads(line)["perfbench_ready"] for line in r.stdout.splitlines()
                     if line.startswith('{"perfbench_ready"')]
            rec["setup_s"] = marks[0] - t_launch
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def end_to_end(self) -> tuple[dict, dict]:
        x = self.launch_once("e2e")
        metrics = {
            # a launch that died before its ready mark: the whole wall
            "setup_s": (x.get("setup_s", x["wall_s"]), "s"),
            "docs_per_s": (self.docs / x["wall_s"], "docs/s"),
            "cpu_s_per_kdoc": (x["cpu_s"] / (self.docs / 1000), "s/kdoc"),
            "peak_rss_mb": (x["peak_rss_mb"], "MB"),
        }
        return x, metrics

    def traced(self, min_coverage: float) -> tuple[dict, dict]:
        from perfbench import spans as sp

        tr = self.launch_once("traced", traced=True)
        metrics = {f"{layer}.{m}": (0.0, u) for layer in LAYERS for m, u in LAYER_METRICS.items()}
        metrics.update({"ops.dedup.pair_yield": (0.0, "ratio"),
                        "pipeline.lineage.write_mb": (0.0, "MB"),
                        "trace.coverage_frac": (0.0, "ratio")})
        if "spans" not in tr:
            return tr, metrics
        # the parent-side root: launch to exit, and the JVM + interpreter
        # start before the driver's first span
        spans = tr["spans"]
        root = len(spans)
        for s in spans:
            s["parent"] = root
        tags = {"workload": spans[0]["workload"], "run_id": spans[0]["run_id"]}
        first = min(s["start"] for s in spans)
        spans += [{"id": root, "name": "run", "parent": None,
                   "start": tr["t_launch"], "end": tr["t_exit"], **tags},
                  {"id": root + 1, "name": "launch", "parent": root,
                   "start": tr["t_launch"], "end": first, **tags}]
        own = sp.self_times(spans)
        tr["coverage_frac"] = sp.coverage(spans)
        events = sp.read_event_log(tr["events"])
        band_rows = sp.join_output_accumulators(events, "bucket")
        per, candidates = sp.attribute(events, band_rows)
        tr["attribution"] = per
        for s in spans:
            s["self_s"] = own[s["id"]]
            if s["name"] not in LAYERS:
                continue
            stats = per.get(s["name"], {})
            metrics[f"{s['name']}.wall_s"] = (s["self_s"], "s")
            metrics[f"{s['name']}.rows_out"] = (s["rows_out"], "count")
            for m in LAYER_METRICS:
                if m in stats:
                    metrics[f"{s['name']}.{m}"] = (stats[m], LAYER_METRICS[m])
        names = {s["name"]: s for s in spans}
        if "ops.dedup" in names and candidates:
            metrics["ops.dedup.pair_yield"] = (names["ops.dedup"]["rows_out"] / candidates, "ratio")
        if "pipeline.lineage" in names:
            metrics["pipeline.lineage.write_mb"] = (tr["output_mb"], "MB")
        metrics["trace.coverage_frac"] = (tr["coverage_frac"], "ratio")
        if tr["coverage_frac"] < min_coverage:
            log(f"span self times cover {tr['coverage_frac']:.3f} of the traced wall "
                f"(< {min_coverage})")
            tr["failed"] = max(tr["failed"], 1)
        return tr, metrics


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="nominal measuring time; a run measures exactly one launch, "
                        "however long it takes")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-memory", required=True, help="spark.driver.memory of every launch")
    p.add_argument("--min-coverage", type=float, required=True,
                   help="least share of the traced wall the span self times must cover")
    a = p.parse_args()
    preflight()
    sys.path.insert(0, ROOT)
    from perfbench import launch

    launch.become_subreaper()
    job = Bench(a)
    try:
        job.prepare()
        box = box_record(job.master)
        if a.trace:
            run, metrics = job.traced(a.min_coverage)
        else:
            run, metrics = job.end_to_end()
        box.update(end_probes())
    finally:
        launch.reap_all()
        shutil.rmtree(job.work, ignore_errors=True)

    attempted = job.docs
    failed = min(run["failed"], attempted)
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "driver_memory": a.driver_memory, "docs": job.docs, "input": job.snap.stats,
        "docs_failed_frac": failed / attempted, "box": box, "launch": run, **result,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    name = f"{stamp}-{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
