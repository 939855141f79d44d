"""Spark's own accounting, read after a run through the UI REST API
(``/jobs``, ``/stages``, ``/sql``) and summed per job group: rounds (jobs,
stages, tasks), task time, scan input, communication (shuffle and
broadcast bytes), memory (spill, GC) and time in Python exec nodes.

Pure functions over the decoded JSON, plus one fetch helper.
"""

from __future__ import annotations

import json
import re
import urllib.request
from datetime import datetime, timezone

# SQL-metric names of the Python exec nodes (MapInPandas,
# FlatMapGroupsInPandas, ArrowEvalPython, ...)
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
BROADCAST_SIZE = "data size"

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"([-0-9.,]+)\s*([A-Za-z]+)?")


def parse_metric(value: str) -> float:
    """A SQL metric as a number in base units (bytes or seconds). Task-level
    metrics read ``"total (min, med, max ...)\\n<total> (...)"``; metrics
    kept outside tasks are a bare ``"<number> <unit>"``."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def parse_time(stamp: str | None) -> float | None:
    """``2026-01-01T00:00:00.123GMT`` -> epoch seconds."""
    if not stamp:
        return None
    return (
        datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def fetch(ui_url: str, app_id: str) -> dict:
    def get(path: str):
        with urllib.request.urlopen(
            f"{ui_url}/api/v1/applications/{app_id}/{path}", timeout=60
        ) as r:
            return json.loads(r.read())

    return {
        "jobs": get("jobs"),
        "stages": get("stages"),
        "sql": get("sql?details=true&planDescription=false&length=100000"),
    }


FIELDS = (
    "jobs", "stages", "tasks", "task_core_s", "gc_s", "input_bytes",
    "output_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "broadcast_bytes", "python_s", "python_init_s",
)


def by_group(data: dict) -> dict[str, dict]:
    """Per job group: the FIELDS totals plus ``submitted`` (each job's
    submission time, for splitting eager jobs from the action's)."""
    stages = {
        (s["stageId"], s["attemptId"]): s
        for s in data["stages"]
        if s.get("status") == "COMPLETE"
    }
    latest: dict[int, dict] = {}
    for (sid, att), s in stages.items():
        if sid not in latest or att > latest[sid]["attemptId"]:
            latest[sid] = s
    out: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    for job in data["jobs"]:
        g = job.get("jobGroup") or ""
        job_group[job["jobId"]] = g
        acc = out.setdefault(g, dict.fromkeys(FIELDS, 0) | {"submitted": []})
        acc["jobs"] += 1
        acc["submitted"].append(parse_time(job.get("submissionTime")))
        for sid in job.get("stageIds", []):
            s = latest.get(sid)
            if s is None:  # skipped: its output was reused
                continue
            acc["stages"] += 1
            acc["tasks"] += s.get("numCompleteTasks", 0)
            acc["task_core_s"] += s.get("executorRunTime", 0) / 1e3
            acc["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            acc["input_bytes"] += s.get("inputBytes", 0)
            acc["output_bytes"] += s.get("outputBytes", 0)
            acc["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
            acc["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
            acc["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
    for ex in data["sql"]:
        jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        groups = {job_group[j] for j in jobs if j in job_group}
        if len(groups) != 1:
            continue
        acc = out[groups.pop()]
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                name = m.get("name")
                if name == PY_RUN:
                    acc["python_s"] += parse_metric(m["value"])
                elif name in (PY_BOOT, PY_INIT):
                    acc["python_init_s"] += parse_metric(m["value"])
                elif name == BROADCAST_SIZE and node.get("nodeName") == "BroadcastExchange":
                    acc["broadcast_bytes"] += parse_metric(m["value"])
    return out
