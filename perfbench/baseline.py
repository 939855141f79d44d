"""Measure a baseline: run every workload of BENCHMARK.json on several
seeds (untraced) plus one traced run each, and write the medians,
quartiles and spreads to perfbench/baseline.json.

Usage (from the repository root):

    python3 perfbench/baseline.py [--runs 10] [--first-seed 1]

The spread of a metric is (Q3 - Q1) / median over the runs, with the
quartiles of ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """One benchmark run: (its result line, its host/session audit line)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[0])


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in (w["name"] for w in spec["workloads"]):
        seeds = list(range(args.first_seed, args.first_seed + args.runs))
        values: dict[str, list[float]] = {}
        audits, failed = [], 0
        for seed in seeds:
            res, audit = run(wl, seed, spec["run_seconds"], 0)
            failed += res["failed"]
            audits.append(audit)
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(wl, seed, {k: round(v[-1], 4) for k, v in values.items()}, flush=True)
        traced, _ = run(wl, seeds[0], spec["run_seconds"], 1)
        out["workloads"][wl] = {
            "seeds": seeds,
            "failed": failed,
            "host": audits[0]["host"] | {
                "steal_pct": [a["host"]["steal_pct"] for a in audits],
                "contended_runs": sum(a["host"]["contended"] for a in audits),
            },
            "session": audits[0]["session"],
            "end_to_end": {k: summarize(v) for k, v in values.items()},
            "per_layer": {k: m["value"] for k, m in traced["metrics"].items()},
        }
    with open(os.path.join(HERE, "baseline.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
