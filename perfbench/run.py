"""Benchmark of the sdc-spark engine: two workloads through its public
entry points, end-to-end metrics, per-layer metrics from a traced run.

Usage (from the repository root):

    python3 perfbench/run.py --workload {batch_sf01,jobs_open_loop}
        --seed N --seconds S --trace {0,1}

Workloads (see BENCHMARK.json for why each was chosen):

- ``batch_sf01``: four registry queries (dedup, text, relational and
  events families) on the sf0.1 fixture, one closed-loop client, a Spark
  session from ``session.get_spark`` in a worker process (batch.py,
  batch_worker.py).
- ``jobs_open_loop``: ``webclient.JobServer`` in its own process
  (job_server.py), fed on a fixed schedule through
  ``client.MapReduceClient`` (word count) and ``POST /queries`` (the
  curation pipeline, the multimodal encoder and the Arrow similarity
  search on the sf0.01 fixture) (jobs_load.py).

Each workload measures a fixed minimum of work (two timed rounds of the
batch queries; three jobs of each kind) and at least ``--seconds``.
Inputs are made from the seed under ``perfbench/.work/`` before any
timer starts: the committed fixture (perfbench/fixture/) with its rows
permuted, and the word-count texts. Every output is checked (oracle
hashes, word counts). The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Lines before it are a readable
report: host and session audit, metric table, per-layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def host_audit() -> dict:
    import common

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": common.mem_total_kb(),
        "loadavg": list(os.getloadavg()),
        "cpu": common.read_cpu_jiffies(),
    }


def close_audit(start: dict) -> dict:
    import common

    end = common.read_cpu_jiffies()
    steal = common.steal_pct(start.pop("cpu"), end)
    start["loadavg_end"] = list(os.getloadavg())
    start["steal_pct"] = steal
    start["contended"] = steal is not None and steal > common.CONTENDED_STEAL_PCT
    return start


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("sdc_mapreduce_spark/session.py", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            return fail(f"{need} not found next to perfbench/: run from a checkout of the engine")
    if args.seed < 0:
        return fail("--seed must be >= 0")
    if args.seconds <= 0:
        return fail("--seconds must be > 0")
    sys.path[:0] = [ROOT, HERE]
    from harness import END_TO_END, PER_LAYER, WORK

    os.makedirs(WORK, exist_ok=True)

    if args.workload == "batch_sf01":
        from batch import run_batch as run
    elif args.workload == "jobs_open_loop":
        from jobs_load import run_jobs as run
    else:
        return fail(f"unknown workload {args.workload!r}")

    # SIGTERM unwinds like an exception, so the workloads stop their
    # processes on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    audit = host_audit()
    report = run(args)
    audit = close_audit(audit)
    report["host"] = audit

    if args.trace:
        metrics = report["per_layer"]
        metrics["host.steal_pct"] = (audit["steal_pct"] or 0.0, "%")
        names = list(PER_LAYER)
    else:
        metrics, names = report["end_to_end"], list(END_TO_END)
    if sorted(metrics) != sorted(names):
        raise RuntimeError(f"workload reported {sorted(set(metrics) ^ set(names))} off the metric list")
    metrics = {k: metrics[k] for k in names}
    print(json.dumps({"host": audit, "session": report.get("session")}))
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:>16.6g} {unit}")
    for line in report.get("notes", []):
        print(line)
    print(f"failed_frac={report['failed'] / report['attempted']:.4f} "
          f"({report['failed']} of {report['attempted']} operations)")
    print(
        json.dumps(
            {
                "correct": report["failed"] == 0,
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
