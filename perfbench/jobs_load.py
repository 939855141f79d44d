"""The ``jobs_open_loop`` workload: the job server in its own process, fed
by an open-loop generator on a fixed schedule.

Job mix, round-robin from a seed-chosen kind: word count through
``client.MapReduceClient.submit`` over seed-generated text files with an
``output_path`` (the partition-sorted KV text sink,
``mapreduce.write_kv_text``), and registry queries on the sf0.01 fixture
through ``POST /queries`` with a parquet ``output_path``. The queries cover
the layers the batch workload leaves out (``pipeline``, ``multimodal``,
``functions.simsearch``).

Each job is timed from when it was due to be sent to its completion: a
poll of ``GET /jobs/<id>`` sees it COMPLETED, and the latency runs to the
``finished_at`` that record carries (so the poll interval adds no noise).
The generator uses two threads (submitter, poller), so two connections.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import urllib.request

from common import Outcomes, late_fraction, tail_percentile, median, open_loop_latencies
from harness import (
    JOB_UNITS, SETUP_SAMPLES, WORK, family_metrics, family_of, prepare_corpus,
    remaining, reset_scratch, sample_row, spawn, stop, trace_report,
)

SF = 0.01
# registry queries: the curation pipeline (``pipeline``,
# ``functions.text``), the multimodal encoder with its cosine top-k
# (``multimodal``, ``operators.relational``) and the Arrow similarity
# search (``functions.simsearch``)
QUERY_KINDS = (
    "pipeline_curation",
    "multimodal_encoder_topk",
    "simsearch_topk_arrow",
)
KINDS = ("wordcount", *QUERY_KINDS)
# jobs per second. Warm, on 4 cores, a job takes 0.4-0.9 s; the interval
# leaves room for about twice that before jobs queue, because
# contention from other tenants of a shared host slows service by that
# much and a backlog would then swamp every latency
RATE = 0.6
# the first executions of a job kind run slower while the JVM compiles:
# on 4 cores a kind's service time falls for about four executions
# (first 1.5-7 s, then about 1.0, 0.85 and 0.75 s) and is flat after.
# With fewer warm-up rounds the timed jobs land on that slope, and how far
# down it they are varies from run to run.
WARMUP_ROUNDS = 4
MIN_PER_KIND = 3
WC_FILES, WC_LINES = 3, 300
POLL_S = 0.02


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _post(url: str, payload: dict) -> dict:
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        return json.loads(r.read())


def start_server(tag: str):
    """Spawn the server; returns (process, its ProcessTree, ready info,
    set-up seconds from spawn until it answers ``GET /queries``)."""
    ready = os.path.join(WORK, f"server-{tag}.json")
    if os.path.exists(ready):
        os.remove(ready)
    t0 = time.time()
    proc, tree = spawn([os.path.join(os.path.dirname(__file__), "job_server.py"), ready],
                       "job_server.log")
    deadline = t0 + remaining(120)
    while not os.path.exists(ready):
        if proc.poll() is not None or time.time() > deadline:
            stop(proc, tree)
            raise RuntimeError(f"job server exited early; see {WORK}/job_server.log")
        time.sleep(0.01)
    with open(ready) as f:
        info = json.load(f)
    _get(f"http://127.0.0.1:{info['port']}/queries")
    return proc, tree, info, time.time() - t0


class Load:
    """Submits jobs and checks their outputs against the server."""

    def __init__(self, base_url: str, seeded_dir: str, wc_files: list[str], expected: dict) -> None:
        from sdc_mapreduce_spark.client import MapReduceClient

        self.base = base_url
        self.sf_dir = seeded_dir
        self.client = MapReduceClient(base_url, staging_dir=os.path.join(WORK, "staging"))
        self.staged = [self.client.upload(p) for p in wc_files]
        self.expected = expected
        self.out_root = os.path.join(WORK, "jobs-out")
        shutil.rmtree(self.out_root, ignore_errors=True)
        os.makedirs(self.out_root)
        self.n = 0

    def submit(self, kind: str) -> tuple[int, str]:
        self.n += 1
        out = os.path.join(self.out_root, f"{self.n:04d}-{kind}")
        if kind == "wordcount":
            return self.client.submit(self.staged, output_path=out).job_id, out
        body = _post(f"{self.base}/queries", {"name": kind, "sf_dir": self.sf_dir, "output_path": out})
        return body["job_id"], out

    def check(self, kind: str, out: str) -> str:
        try:
            if kind == "wordcount":
                return _check_wordcount(out, self.expected["wordcount"])
            return _check_query(out, self.expected[kind])
        except Exception as exc:  # a missing or unreadable output is a failure
            return f"error: {type(exc).__name__}: {exc}"


def verdict(load: Load, kind: str, status: str, out: str) -> str:
    """"ok", or why the job counts as failed: it did not reach COMPLETED,
    or its output is wrong."""
    return load.check(kind, out) if status == "COMPLETED" else f"status {status}"


def _check_wordcount(out: str, want) -> str:
    """Reference semantics: every key once overall (hash-disjoint across
    partition files), keys sorted within each file, counts equal to a
    Counter over the inputs' ``isalnum`` tokens."""
    got: dict[str, int] = {}
    for name in sorted(os.listdir(out)):
        if not name.startswith("part-"):
            continue
        keys = []
        with open(os.path.join(out, name)) as f:
            for line in f:
                key, value = line.rstrip("\n").split(" ")
                if key in got:
                    return f"key {key!r} in more than one partition file"
                got[key] = int(value)
                keys.append(key)
        if keys != sorted(keys):
            return f"{name} not sorted by key"
    return "ok" if got == dict(want) else f"counts differ ({len(got)} keys, want {len(want)})"


def _check_query(out: str, want: dict) -> str:
    import duckdb

    from oracle import answer_of

    con = duckdb.connect()
    try:
        res = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')")
        got = answer_of([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
    return "ok" if got == want else f"mismatch: got {got}, want {want}"


def run_jobs(args) -> dict:
    import corpus
    from oracle import oracle_answers

    phases = [("start", time.time())]
    reset_scratch()
    base, seeded, fixture = prepare_corpus(SF, args.seed)
    expected = oracle_answers(base, list(QUERY_KINDS), os.path.join(WORK, f"oracle-{fixture}.json"))
    wc_files = corpus.wordcount_files(os.path.join(WORK, "wc-input"), args.seed, WC_FILES, WC_LINES)
    expected["wordcount"] = corpus.expected_wordcount(wc_files)
    n_jobs = len(KINDS) * max(int(args.seconds * RATE / len(KINDS)), MIN_PER_KIND)
    schedule = corpus.job_schedule(args.seed, list(KINDS), n_jobs)
    phases.append(("inputs", time.time()))

    setups = []
    for i in range(SETUP_SAMPLES - 1):
        proc, tree, _, s = start_server(f"setup{i}")
        setups.append(s)
        # its shutdown is not part of set-up: kill it outright
        stop(proc, tree)
    proc, tree, info, s = start_server("main")
    setups.append(s)
    url = f"http://127.0.0.1:{info['port']}"
    phases.append(("setup", time.time()))
    out = Outcomes()
    try:
        load = Load(url, seeded, wc_files, expected)
        # untimed warm-up, queued at once (the runner takes them in order);
        # outputs checked
        warm = [(kind, *load.submit(kind)) for kind in KINDS * WARMUP_ROUNDS]
        for kind, job_id, path in warm:
            v = verdict(load, kind, _wait(url, job_id, remaining(60))["status"], path)
            out.record(v == "ok", f"warm-up {kind}: {v}")
        phases.append(("warm-up", time.time()))
        # a traced run adds a second, traced load (spans, storage sampling);
        # which of the two goes first alternates with the seed, so that
        # neither side of the overhead comparison always runs warmer
        order = [False]
        if args.trace:
            order = [False, True] if args.seed % 2 == 0 else [True, False]
        storage_url = f"{info['ui']}/api/v1/applications/{info['app_id']}/executors"
        loads = {t: _open_loop(load, schedule, url, storage_url if t else None) for t in order}
        result = loads[False]
        phases.append(("load", time.time()))
        groups = None
        if args.trace:
            from sparkstats import by_group, fetch

            groups = by_group(fetch(info["ui"], info["app_id"]))
    finally:
        # everything is read from the server by now; its shutdown is not
        # measured
        stop(proc, tree)
    phases.append(("stop", time.time()))

    for res in loads.values():
        for job in res["jobs"]:
            v = verdict(load, job["kind"], job["status"], job["out"])
            out.record(v == "ok", f"job {job['job_id']} {job['kind']}: {v}")

    with open(os.path.join(WORK, f"jobs-s{args.seed}.json"), "w") as f:
        json.dump(result["jobs"], f)
    kind_med = _kind_medians(result["jobs"])
    fam_of = {k: "mapreduce" if k == "wordcount" else family_of(k) for k in KINDS}
    e2e = {"setup_s": (median(setups), "s"), "total_s": (sum(kind_med.values()), "s")}
    all_lat = _latencies(result["jobs"])
    tail = tail_percentile(all_lat)
    notes = [f"FAILED {e}" for e in out.errors] + [
        f"jobs={len(result['jobs'])} rate={RATE}/s p50={median(all_lat):.3f}s "
        + (f"p{tail[0]}={tail[1]:.3f}s" if tail else "(too few jobs for a tail percentile)")
        + f" service p50={median([j['record']['finished_at'] - j['record']['started_at'] for j in result['jobs'] if 'record' in j]):.3f}s"
        + f" setup_samples={[round(s, 3) for s in setups]}",
        "per-kind median latency (s): "
        + json.dumps({k: round(v, 3) for k, v in kind_med.items()}),
        "phases (s): " + " ".join(
            f"{name}={t - prev:.1f}" for (_, prev), (name, t) in zip(phases, phases[1:])
        ),
    ]
    report = {
        "attempted": out.attempted,
        "failed": out.failed,
        "session": info["session"],
        "end_to_end": e2e,
        "notes": notes,
    }
    if args.trace:
        traced = loads[True]
        warmup_s = phases[3][1] - phases[2][1]
        report["per_layer"] = _per_layer(traced, groups, fam_of, kind_med, info, warmup_s)
        report["per_layer"]["memory.peak_rss_mb"] = (tree.peak / 2**20, "MB")
        # as for the batch workload: traced total_s minus untraced total_s
        overhead = sum(_kind_medians(traced["jobs"]).values()) - sum(kind_med.values())
        report["per_layer"]["trace.overhead_s"] = (overhead, "s")
        report["notes"] += trace_report("jobs_open_loop", args.seed, traced["spans"])
    return report


def _latencies(jobs: list[dict]) -> list[float]:
    return open_loop_latencies([j["due"] for j in jobs], [j["done"] for j in jobs])


def _kind_medians(jobs: list[dict]) -> dict[str, float]:
    """Median latency (due to done) of each job kind."""
    lat: dict[str, list[float]] = {}
    for job in jobs:
        if job["done"] is not None:
            lat.setdefault(job["kind"], []).append(job["done"] - job["due"])
    return {k: median(v) for k, v in lat.items()}


def _wait(url: str, job_id: int, timeout: float) -> dict:
    deadline = time.time() + timeout
    while True:
        rec = _get(f"{url}/jobs/{job_id}")
        if rec["status"] not in ("CREATED", "RUNNING") or time.time() > deadline:
            return rec
        time.sleep(POLL_S)


def _open_loop(load: Load, schedule: list[str], url: str, storage_url: str | None) -> dict:
    """Submit ``schedule`` at RATE jobs/s from a fixed start; a poller
    thread records when each job is first seen terminal. A traced load
    (``storage_url`` given) also samples the executors' storage memory
    on every poll and returns the jobs' spans."""
    interval = 1.0 / RATE
    start = time.time() + 0.2
    jobs: list[dict] = []
    lock = threading.Lock()
    submitted_all = threading.Event()
    storage_peak = 0

    def poller() -> None:
        nonlocal storage_peak
        pending: list[dict] = []
        while True:
            with lock:
                pending = [j for j in jobs if j["done"] is None]
            if not pending and submitted_all.is_set():
                return
            for j in pending:
                rec = _get(f"{url}/jobs/{j['job_id']}")
                if rec["status"] not in ("CREATED", "RUNNING"):
                    j["done"] = time.time()
                    j["status"] = rec["status"]
            if storage_url:
                used = sum(e.get("memoryUsed", 0) for e in _get(storage_url))
                storage_peak = max(storage_peak, used)
            if not remaining():
                return
            time.sleep(POLL_S)

    t = threading.Thread(target=poller, daemon=True)
    t.start()
    for i, kind in enumerate(schedule):
        due = start + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        sent = time.time()
        job_id, out = load.submit(kind)
        acked = time.time()
        with lock:
            jobs.append({"kind": kind, "due": due, "sent": sent, "acked": acked,
                         "job_id": job_id, "out": out, "done": None,
                         "status": "LOST"})
    submitted_all.set()
    t.join(timeout=remaining() + 1)
    # final records: a poll can see COMPLETED a moment before the runner
    # stamps finished_at
    final = {r["job_id"]: r for r in _get(f"{url}/jobs")["jobs"]}
    for j in jobs:
        if j["done"] is not None:
            j["record"] = final[j["job_id"]]
            j["done"] = j["record"]["finished_at"] or j["done"]
    return {"jobs": jobs, "interval": interval, "storage_peak_bytes": storage_peak,
            "spans": _job_spans(jobs) if storage_url else []}


def _job_spans(jobs: list[dict]) -> list[dict]:
    """Spans of each finished job, built from the generator's timestamps and
    the server's record: the job from due to done, and under it the POST
    round trip, the wait in the queue and the run."""
    spans: list[dict] = []
    for i, j in enumerate(jobs):
        rec = j.get("record")
        if rec is None:
            continue
        top = len(spans)
        spans.append({"name": "job", "start": j["due"], "end": j["done"], "parent": None,
                      "sample": f"job{i}"})
        for name, start, end in (
            ("webclient.submit", j["sent"], j["acked"]),
            ("jobs.queue", rec["submitted_at"], rec["started_at"]),
            ("jobs.run", rec["started_at"], rec["finished_at"]),
        ):
            spans.append({"name": name, "start": start, "end": end, "parent": top,
                          "sample": f"job{i}"})
    return spans


def _per_layer(result: dict, groups: dict, fam_of: dict, walls: dict, info: dict,
               warmup_s: float) -> dict:
    """Per-layer metrics of the traced load: per family, Spark's accounting
    of each job's group ``sdc-job-<id>`` (``harness.family_metrics``, the
    job's run as the action; ``walls`` are the untraced load's per-kind
    median latencies); the control plane from the generator's timestamps
    and the server's job records."""
    jobs = result["jobs"]
    done = [j for j in jobs if "record" in j]
    rows: dict[str, list[dict]] = {}
    for j in done:
        g = groups.get(f"sdc-job-{j['job_id']}")
        if g is not None:
            rec = j["record"]
            rows.setdefault(j["kind"], []).append(
                sample_row(g, rec["started_at"], rec["finished_at"] - rec["started_at"])
            )
    cores = info["session"]["default_parallelism"]
    metrics = family_metrics(rows, walls, fam_of, cores)
    recs = [j["record"] for j in done]
    job_groups = [groups.get(f"sdc-job-{j['job_id']}") or {} for j in done]
    n = max(len(done), 1)
    metrics["session.get_spark_s"] = (info["get_spark_s"], "s")
    metrics["session.warmup_s"] = (warmup_s, "s")
    metrics["cache.storage_peak_bytes"] = (result["storage_peak_bytes"], "bytes")
    extra = {
        "webclient.submit_ms": median([(j["acked"] - j["sent"]) * 1e3 for j in jobs]),
        "jobs.queue_wait_s": median([r["started_at"] - r["submitted_at"] for r in recs]),
        "jobs.service_s": median([r["finished_at"] - r["started_at"] for r in recs]),
        "jobs.spark_jobs": sum(g.get("jobs", 0) for g in job_groups) / n,
        "jobs.task_core_s": sum(g.get("task_core_s", 0) for g in job_groups) / n,
        "jobs.output_bytes": sum(g.get("output_bytes", 0) for g in job_groups) / n,
        "jobs.late_frac": late_fraction(
            [j["due"] for j in jobs], [j["done"] for j in jobs], result["interval"]
        ),
        "generator.lag_ms": median([(j["sent"] - j["due"]) * 1e3 for j in jobs]),
    }
    for k, v in extra.items():
        metrics[k] = (v, JOB_UNITS[k])
    return metrics
