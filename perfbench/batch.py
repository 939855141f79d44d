"""The ``batch_sf01`` workload, orchestrator side: inputs, oracle answers,
set-up samples, the measured worker process and the metrics made from
its results."""

from __future__ import annotations

import json
import os
import time

from common import Outcomes, median
from harness import (
    JOB_UNITS, SETUP_SAMPLES, WORK, family_metrics, family_of, prepare_corpus,
    remaining, reset_scratch, sample_row, spawn, stop, trace_report,
)

SF = 0.1
# One bench-flagged query for each of four families: MinHash LSH (the
# near-dup candidate path) and otherwise queries light enough that a run
# fits its time budget. The mapreduce and simsearch families and the
# pipeline and multimodal layers run in the job workload.
QUERIES = (
    "dedup_minhash_lsh",
    "text_vocab_encode",
    "q3_shipping_priority",
    "events_sessionize",
)


def _worker(spec: dict, tag: str) -> tuple[dict, float, int]:
    """Run batch_worker.py on ``spec``; returns (result, spawn time, peak
    resident bytes of its process tree). The worker's process tree is
    killed as soon as its result is written: shutting Spark down is not
    part of what is measured."""
    spec_path = os.path.join(WORK, f"spec-{tag}.json")
    result_path = spec["result_path"] = os.path.join(WORK, f"result-{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    t_spawn = time.time()
    proc, tree = spawn([os.path.join(os.path.dirname(__file__), "batch_worker.py"), spec_path],
                       "batch_worker.log")
    try:
        deadline = t_spawn + remaining()
        while not os.path.exists(result_path) and proc.poll() is None and time.time() < deadline:
            time.sleep(0.05)
    finally:
        stop(proc, tree)
    if not os.path.exists(result_path):
        raise RuntimeError(f"batch worker {tag} exited with {proc.returncode}; see {WORK}/batch_worker.log")
    with open(result_path) as f:
        return json.load(f), t_spawn, tree.peak


def run_batch(args) -> dict:
    from oracle import oracle_answers

    t_start = time.time()
    reset_scratch()
    base, seeded, fixture = prepare_corpus(SF, args.seed)
    expected = oracle_answers(base, list(QUERIES), os.path.join(WORK, f"oracle-{fixture}.json"))
    t_inputs = time.time()
    setups = []
    for i in range(SETUP_SAMPLES - 1):
        res, t0, _ = _worker({"setup_only": True}, f"setup{i}")
        setups.append(res["ready_at"] - t0)
    spec = {
        "sf_dir": seeded,
        "queries": list(QUERIES),
        "expected": expected,
        "seconds": args.seconds,
        "trace": args.trace,
    }
    res, t0, peak = _worker(spec, "main")
    setups.append(res["ready_at"] - t0)
    warmup = next(s for s in res["spans"] if s["name"] == "session.warmup")
    phases = {
        "inputs": t_inputs - t_start,
        "setup": res["ready_at"] - t_inputs,
        "warm-up": warmup["end"] - res["ready_at"],
        "rounds": res["measured_until"] - warmup["end"],
        "stop": time.time() - res["measured_until"],
    }

    out = Outcomes()
    for name in QUERIES:
        status = res["checks"].get(name, "missing")
        out.record(status == "ok", f"{name}: {status}")
        for _ in res["runs"].get(name, []):
            out.record(True)
        if name in res["errors"]:
            out.record(False, f"{name}: {res['errors'][name]}")
    families = {n: family_of(n) for n in QUERIES}
    med = res["medians"]
    e2e = {"setup_s": (median(setups), "s"), "total_s": (sum(med.values()), "s")}
    report = {
        "attempted": out.attempted,
        "failed": out.failed,
        "session": res["session"],
        "end_to_end": e2e,
        "notes": [f"FAILED {e}" for e in out.errors]
        + [f"rounds={res['rounds']} setup_samples={[round(s, 3) for s in setups]}",
           "phases (s): " + " ".join(f"{k}={v:.1f}" for k, v in phases.items())],
    }
    if args.trace:
        report["per_layer"] = per_layer(res, families)
        report["per_layer"]["memory.peak_rss_mb"] = (peak / 2**20, "MB")
        overhead = sum(res["traced_medians"].values()) - sum(med.values())
        report["per_layer"]["trace.overhead_s"] = (overhead, "s")
        report["notes"] += trace_report("batch_sf01", args.seed, res["spans"])
    return report


def per_layer(res: dict, families: dict[str, str]) -> dict:
    """Per-layer metrics from one traced worker run: per family, Spark's
    accounting and span timings of the family's traced executions
    (``harness.family_metrics``); session spans and the cache peak."""
    from common import self_times, spans_from_json

    spans = spans_from_json(res["spans"])
    build: dict[str, list[float]] = {}
    for sp, st in zip(spans, self_times(spans)):
        if sp.name == "queries.build":
            build.setdefault(sp.sample.split("#")[0], []).append(st)
    rows: dict[str, list[dict]] = {}
    for s in res["samples"]:
        g = res["groups"].get(s["group"])
        if g is not None:
            rows.setdefault(s["query"], []).append(sample_row(g, s["action_at"], s["wall"]))
    metrics = family_metrics(rows, res["medians"], families, res["cores"], build)
    session = {sp.name: sp.duration for sp in spans if sp.name.startswith("session.")}
    metrics["session.get_spark_s"] = (session.get("session.get_spark", 0.0), "s")
    metrics["session.warmup_s"] = (session.get("session.warmup", 0.0), "s")
    metrics["cache.storage_peak_bytes"] = (res["storage_peak_bytes"], "bytes")
    for name, unit in JOB_UNITS.items():
        metrics[name] = (0.0, unit)
    return metrics
