"""Layer-by-layer diff of two sets of benchmark results.

Each input is a JSON-lines file that `run.py --record FILE` appends to:
one line per run, {"workload", "seed", "trace", "result"}. For every
workload and every metric (end-to-end and per-layer), prints the parent's
median with its quartiles, the change's median, the relative difference,
and the parent runs' own spread, (Q3 - Q1) / median. A difference inside
that spread is marked "~"; outside it, "better" or "worse" by the
metric's direction in BENCHMARK.json, and "REGRESSION" where an
end-to-end metric got worse by more than its bound.

Usage, from the repository root:
    python3 perfbench/diff.py PARENT.jsonl CHANGE.jsonl
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from stats import median, percentile  # noqa: E402


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values over runs (traced and untraced merged:
    their metric names do not overlap)."""
    out: dict[str, dict[str, list[float]]] = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            metrics = out.setdefault(rec["workload"], {})
            for name, m in rec["result"]["metrics"].items():
                metrics.setdefault(name, []).append(float(m["value"]))
    return out


def compare(parent: list[float], change: list[float], better: str, bound: float | None) -> dict:
    pm, cm = median(parent), median(change)
    q1, q3 = percentile(parent, 25), percentile(parent, 75)
    spread = (q3 - q1) / abs(pm) if pm else 0.0
    rel = (cm - pm) / abs(pm) if pm else (0.0 if cm == pm else float("inf"))
    worse = rel > 0 if better == "lower" else rel < 0
    if abs(rel) <= spread or rel == 0:
        verdict = "~"
    elif worse and bound is not None and abs(rel) > bound:
        verdict = "REGRESSION"
    else:
        verdict = "worse" if worse else "better"
    return {"parent": pm, "q1": q1, "q3": q3, "change": cm, "rel": rel,
            "spread": spread, "verdict": verdict, "n": (len(parent), len(change))}


def specs(bench_json: Path) -> dict[str, tuple[str, str, float | None]]:
    spec = json.loads(bench_json.read_text())
    out = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    out.update({m["name"]: (m["unit"], m["better"], None) for m in spec["per_layer"]})
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description="layer-by-layer diff of two result files")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark-json", default=str(HERE.parent / "BENCHMARK.json"))
    args = ap.parse_args()
    meta = specs(Path(args.benchmark_json))
    parent, change = load(args.parent), load(args.change)
    for workload in sorted(set(parent) & set(change)):
        print(f"== {workload}")
        print(f"{'metric':40} {'unit':6} {'parent [q1, q3]':>30} {'change':>12} "
              f"{'diff':>8} {'spread':>7}  verdict (n parent/change)")
        for name in sorted(set(parent[workload]) & set(change[workload])):
            unit, better, bound = meta.get(name, ("?", "lower", None))
            c = compare(parent[workload][name], change[workload][name], better, bound)
            band = f"{c['parent']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]"
            print(f"{name:40} {unit:6} {band:>30} {c['change']:>12.4g} "
                  f"{c['rel']:>+8.1%} {c['spread']:>7.1%}  {c['verdict']} "
                  f"({c['n'][0]}/{c['n'][1]})")


if __name__ == "__main__":
    main()
