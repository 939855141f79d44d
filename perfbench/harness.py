"""Shared pieces of the workloads: metric names, the work area, child
processes and corpus preparation."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

from common import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# The layers and families the benchmark reports; a query's family is the
# registry module that defines it.
FAMILIES = ("dedup", "text", "relational", "events", "simsearch", "mapreduce")
FAMILY_FIELDS = (
    "wall_s", "build_s", "eager_jobs", "plan_s", "jobs", "stages", "tasks",
    "task_core_s", "idle_frac", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "broadcast_bytes", "spill_bytes", "gc_s",
    "python_s", "python_init_s",
)
OTHER_LAYER_METRICS = (
    "session.get_spark_s", "session.warmup_s", "cache.storage_peak_bytes",
    "webclient.submit_ms", "jobs.queue_wait_s", "jobs.service_s",
    "jobs.spark_jobs", "jobs.task_core_s", "jobs.output_bytes",
    "jobs.late_frac", "generator.lag_ms", "memory.peak_rss_mb",
    "trace.overhead_s", "host.steal_pct",
)
PER_LAYER = tuple(f"{f}.{k}" for f in FAMILIES for k in FAMILY_FIELDS) + OTHER_LAYER_METRICS
END_TO_END = ("setup_s", "total_s")
# Set-up is timed twice per run (the measured process and one process that
# only sets up); each is a JVM launch of ~8 s, so more would not fit the
# run budget of both workloads.
SETUP_SAMPLES = 2
# Every run must end within 180 s: waits are cut at this many seconds after
# the run started, leaving time to stop what is still running.
RUN_LIMIT_S = 165.0
_started = time.time()
JOB_UNITS = {
    "webclient.submit_ms": "ms", "jobs.queue_wait_s": "s", "jobs.service_s": "s",
    "jobs.spark_jobs": "count", "jobs.task_core_s": "s", "jobs.output_bytes": "bytes",
    "jobs.late_frac": "ratio", "generator.lag_ms": "ms",
}


def family_units() -> dict[str, str]:
    """Unit of each per-family field."""
    units = dict.fromkeys(FAMILY_FIELDS, "bytes")
    units.update(dict.fromkeys(("wall_s", "build_s", "plan_s", "task_core_s", "gc_s", "python_s", "python_init_s"), "s"))
    units.update(dict.fromkeys(("eager_jobs", "jobs", "stages", "tasks"), "count"))
    units["idle_frac"] = "ratio"
    return units


def child_env() -> dict[str, str]:
    """Environment for the Spark processes: scratch files stay in WORK."""
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["SPARK_SUBMIT_OPTS"] = (
        env.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    return env


def spawn(args: list[str], log_name: str):
    """Start ``python3 <args>`` in its own process group with output to a
    log under WORK; returns (process, ProcessTree watching it)."""
    from common import ProcessTree

    with open(os.path.join(WORK, log_name), "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, *args],
            cwd=WORK,
            env=child_env(),
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    return proc, ProcessTree(proc.pid)


def remaining(cap: float = float("inf")) -> float:
    """Seconds left before the run's time limit, at most ``cap``."""
    return max(min(cap, _started + RUN_LIMIT_S - time.time()), 0.0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop(proc, tree) -> None:
    """Kill ``proc``'s process group, then wait until every process seen in
    its tree is gone (the Python daemon leaves the group; it exits once the
    JVM has closed its pipe, else it is killed too)."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    tree.close()
    deadline = time.time() + 10
    while True:
        left = [p for p in tree.seen if p != proc.pid and _alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def reset_scratch() -> None:
    """Empty the Spark scratch directories a killed process may leave."""
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def prepare_corpus(sf: float, seed: int) -> tuple[str, str, str]:
    """This seed's permutation of the fixture at scale ``sf`` (made once,
    then reused); returns (fixture_dir, seed_dir, fixture_id). Other
    seeds' copies are removed so the work area stays bounded."""
    import corpus

    base = corpus.fixture_dir(sf)
    key = f"sf{sf}-{corpus.permuted_id(base)}"
    root = os.path.join(WORK, "corpus")
    seeded = os.path.join(root, f"{key}-s{seed}")
    corpus.permute(base, seeded, seed)
    for d in os.listdir(root):
        if d.startswith(f"sf{sf}-") and os.path.join(root, d) != seeded:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return base, seeded, corpus.fixture_id(base)


def family_of(name: str) -> str:
    from sdc_mapreduce_spark.queries import REGISTRY

    mod = REGISTRY[name].fn.__module__.rsplit(".", 1)[-1]
    return mod.removesuffix("_queries")


def sample_row(group: dict, action_at: float, wall: float) -> dict:
    """One traced execution: its job group's Spark accounting
    (``sparkstats.by_group``), ``eager_jobs`` (jobs submitted before the
    action started), ``plan_s`` (action start to the action's first job)
    and ``wall``."""
    subs = sorted(t for t in group["submitted"] if t is not None)
    action = [t for t in subs if t >= action_at - 1e-3]
    row = {k: v for k, v in group.items() if k != "submitted"}
    row["eager_jobs"] = len(subs) - len(action)
    row["plan_s"] = (action[0] - action_at) if action else 0.0
    row["wall"] = wall
    return row


def family_metrics(
    rows: dict[str, list[dict]],
    walls: dict[str, float],
    family: dict[str, str],
    cores: int,
    build: dict[str, list[float]] | None = None,
) -> dict[str, tuple[float, str]]:
    """The FAMILY_FIELDS metrics of every family. ``rows`` holds each
    query's ``sample_row``s, ``walls`` its median untraced wall, ``build``
    its query-function self times. Per family, each query contributes its
    mean over executions (median for ``plan_s`` and ``build_s``), summed
    over the family's queries; ``idle_frac`` is 1 - task time / (wall x
    cores) over all the family's executions."""
    units = family_units()
    metrics: dict[str, tuple[float, str]] = {}
    for fam in FAMILIES:
        vals = dict.fromkeys(FAMILY_FIELDS, 0.0)
        task_s = wall = 0.0
        for q in (q for q, f in family.items() if f == fam):
            vals["wall_s"] += walls.get(q, 0.0)
            qrows = rows.get(q, [])
            if not qrows:
                continue
            vals["build_s"] += median((build or {}).get(q, [0.0]))
            vals["plan_s"] += median([r["plan_s"] for r in qrows])
            for k in FAMILY_FIELDS:
                if k not in ("wall_s", "build_s", "plan_s", "idle_frac"):
                    vals[k] += sum(r[k] for r in qrows) / len(qrows)
            task_s += sum(r["task_core_s"] for r in qrows)
            wall += sum(r["wall"] for r in qrows)
        vals["idle_frac"] = 1 - task_s / (wall * cores) if wall else 0.0
        for k in FAMILY_FIELDS:
            metrics[f"{fam}.{k}"] = (vals[k], units[k])
    return metrics


def trace_report(workload: str, seed: int, spans: list[dict]) -> list[str]:
    """Write the run's spans to WORK/trace-<workload>-s<seed>.json and
    return the per-layer table (count, total and self seconds per span
    name) as report lines."""
    import json

    from common import self_times, spans_from_json

    with open(os.path.join(WORK, f"trace-{workload}-s{seed}.json"), "w") as f:
        json.dump(spans, f)
    objs = spans_from_json(spans)
    table: dict[str, list[float]] = {}
    for sp, st in zip(objs, self_times(objs)):
        row = table.setdefault(sp.name, [0, 0.0, 0.0])
        row[0] += 1
        row[1] += sp.duration
        row[2] += st
    return [f"layer {'span':24s} {'count':>6s} {'total_s':>10s} {'self_s':>10s}"] + [
        f"layer {name:24s} {n:6d} {tot:10.3f} {own:10.3f}" for name, (n, tot, own) in table.items()
    ]

