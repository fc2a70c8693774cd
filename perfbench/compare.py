"""Verdicts between two sets of benchmark results.

    python3 perfbench/compare.py <parent results dir> <change results dir>

Each directory holds the result files ``perfbench/run.py`` writes
(``.perfbench/results/*.json``); end-to-end runs (``--trace 0``) are
used and paired by workload and seed; a seed that only one side ran is
counted as unpaired and left out. For each workload and end-to-end
metric of ``BENCHMARK.json`` the verdict is:

- ``missing``: fewer than 10 seed pairs;
- ``gain``: the change wins at least 9 of every 10 pairs (ties count for
  neither side) and the medians differ, in the better direction, by more
  than the parent's interquartile spread;
- ``regression``: the change's median is worse than the parent's by more
  than the metric's bound (as a share of the parent's median);
- ``unresolved``: the parent's interquartile spread is wider than the
  bound, unless every change run reads better than every parent run;
- ``same``: none of these.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10


def load(results_dir: str) -> dict[str, dict[int, dict[str, float]]]:
    """workload -> seed -> metric -> value, from end-to-end result files."""
    out: dict[str, dict[int, dict[str, float]]] = {}
    for path in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if r.get("trace") != 0 or not r.get("correct"):
            continue
        vals = {k: m["value"] for k, m in r["metrics"].items()}
        out.setdefault(r["workload"], {})[r["seed"]] = vals
    return out


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            bound: float, higher_better: bool) -> dict:
    """Verdict for one metric; ``pairs`` are (parent, change) of one seed,
    at least ``MIN_PAIRS`` of them."""
    sign = 1 if higher_better else -1
    p_med, c_med = statistics.median(parent), statistics.median(change)
    q1, _, q3 = statistics.quantiles(parent, n=4)
    iqr = q3 - q1
    wins = sum(sign * (c - p) > 0 for p, c in pairs)
    better = sign * (c_med - p_med)
    separated = min(change) > max(parent) if higher_better else max(change) < min(parent)
    if iqr > bound * abs(p_med) and not separated:
        v = "unresolved"
    elif len(pairs) >= MIN_PAIRS and wins >= 0.9 * len(pairs) and better > iqr:
        v = "gain"
    elif -better > bound * abs(p_med):
        v = "regression"
    else:
        v = "same"
    return {"verdict": v, "parent_median": p_med, "change_median": c_med,
            "parent_iqr": iqr, "wins": wins, "pairs": len(pairs)}


def compare(parent_dir: str, change_dir: str, spec: dict) -> list[dict]:
    parent, change = load(parent_dir), load(change_dir)
    rows = []
    for w in spec["workloads"]:
        ps, cs = parent.get(w["name"], {}), change.get(w["name"], {})
        for m in spec["end_to_end"]:
            k = m["name"]
            p_seeds = {s for s, r in ps.items() if k in r}
            c_seeds = {s for s, r in cs.items() if k in r}
            pairs = [(ps[s][k], cs[s][k]) for s in sorted(p_seeds & c_seeds)]
            row = {"workload": w["name"], "metric": k, "pairs": len(pairs),
                   "unpaired": len(p_seeds ^ c_seeds)}
            if len(pairs) < MIN_PAIRS:
                rows.append({**row, "verdict": "missing"})
                continue
            pv, cv = [p for p, _ in pairs], [c for _, c in pairs]
            rows.append({**row, **verdict(pv, cv, pairs, m["bound"], m["better"] == "higher")})
    return rows


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(sys.argv[1], sys.argv[2], spec)
    for r in rows:
        unpaired = f"  ({r['unpaired']} unpaired seeds left out)" if r["unpaired"] else ""
        if r["verdict"] == "missing":
            print(f"{r['workload']:14} {r['metric']:16} missing: {r['pairs']} pairs, "
                  f"{MIN_PAIRS} needed{unpaired}")
            continue
        print(f"{r['workload']:14} {r['metric']:16} {r['verdict']:10} "
              f"parent {r['parent_median']:.4g} (iqr {r['parent_iqr']:.3g})  "
              f"change {r['change_median']:.4g}  wins {r['wins']}/{r['pairs']}{unpaired}")


if __name__ == "__main__":
    main()
