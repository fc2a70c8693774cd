"""Tracing overhead of one set of benchmark results.

    python3 perfbench/overhead.py [results dir]   (default: .perfbench/results)

``trace.overhead_frac`` of a workload is the median launch wall of its
traced runs (``--trace 1``) divided by the median launch wall of its
end-to-end runs (``--trace 0``), minus 1. Only runs that are correct and
share the code digest, core count and driver memory are compared, so an
older commit's or another box's results never serve as the baseline.

A traced run makes one launch and leaves the untraced side to the
end-to-end runs: a traced plus an untraced ``corpus_dedup`` launch take
about 160 s on a 4-core VM, which does not reliably fit the 180 s that
one run may take.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def overhead(results_dir: str) -> list[dict]:
    """One row per (workload, code digest, nproc, driver memory) that has
    both traced and end-to-end runs."""
    walls: dict[tuple, tuple[list[float], list[float]]] = {}
    for path in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if not r.get("correct") or "code_digest" not in r["box"]:
            continue
        key = (r["workload"], r["box"]["code_digest"], r["box"]["nproc"], r["driver_memory"])
        walls.setdefault(key, ([], []))[r["trace"]].append(r["launch"]["wall_s"])
    rows = []
    for (workload, digest, nproc, mem), (untraced, traced) in sorted(walls.items()):
        if untraced and traced:
            rows.append({
                "workload": workload, "code_digest": digest, "nproc": nproc, "driver_memory": mem,
                "untraced_runs": len(untraced), "traced_runs": len(traced),
                "overhead_frac": statistics.median(traced) / statistics.median(untraced) - 1,
            })
    return rows


def main() -> None:
    results_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".perfbench", "results")
    rows = overhead(results_dir)
    if not rows:
        sys.exit("no workload has both traced and end-to-end runs on the same code")
    for r in rows:
        print(f"{r['workload']:14} code {r['code_digest'][:12]}  nproc {r['nproc']}  "
              f"traced {r['traced_runs']} / untraced {r['untraced_runs']} runs  "
              f"trace.overhead_frac {r['overhead_frac']:.3f}")


if __name__ == "__main__":
    main()
