"""Statistics, span arithmetic, process-tree memory and host audit for the
benchmark. Pure Python: nothing here imports Spark, so the benchmark's own
tests run without a session.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(samples: list[float], min_beyond: int = 10):
    """The highest whole percentile p that has at least ``min_beyond``
    samples strictly above its rank, as ``(p, value)``; ``None`` when even
    the median has fewer than that many samples beyond it.

    With n sorted samples, percentile p sits at 0-based rank
    ceil(p/100 * n) - 1 (nearest rank), leaving n - 1 - rank samples
    beyond it. A p90 therefore needs n >= 100, a p50 n >= 20.
    """
    n = len(samples)
    s = sorted(samples)
    for p in range(99, 49, -1):
        rank = max(math.ceil(p / 100 * n) - 1, 0)
        if n - 1 - rank >= min_beyond:
            return p, s[rank]
    return None


@dataclass
class Span:
    name: str
    start: float
    end: float
    sample: str
    parent: int | None = None  # index of the parent in the same span list

    @property
    def duration(self) -> float:
        return self.end - self.start


def spans_from_json(rows: list[dict]) -> list[Span]:
    return [Span(r["name"], r["start"], r["end"], r["sample"], r["parent"]) for r in rows]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval covered by its
    direct children (clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            par = spans[sp.parent]
            s, e = max(sp.start, par.start), min(sp.end, par.end)
            if e > s:
                children.setdefault(sp.parent, []).append((s, e))
    return [
        sp.duration - covered(children.get(i, [])) for i, sp in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder: ``with tracer.span(name, sample):`` records a
    span whose parent is the innermost span open at its start."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, sample: str = ""):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(len(self.spans))
        sp = Span(name, time.time(), 0.0, sample, parent)
        self.spans.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def to_json(self) -> list[dict]:
        return [asdict(sp) for sp in self.spans]


# --- failure accounting ---------------------------------------------------


class Outcomes:
    """Attempted/failed operation counter. An operation is one query
    execution or one job; a raised error, a job that did not reach
    COMPLETED, or an output that fails its check each count as failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# --- open-loop timing -------------------------------------------------------


def open_loop_latencies(due: list[float], done: list[float | None]) -> list[float]:
    """Latency of each finished request measured from when it was DUE to be
    sent, not from when the generator got round to sending it: a stalled
    generator or a backed-up server then shows in every later request."""
    return [d - u for u, d in zip(due, done) if d is not None]


def late_fraction(due: list[float], done: list[float | None], interval: float, slots: int = 10) -> float:
    """Share of requests still unfinished ``slots`` due-intervals after they
    were due — nonzero only when a backlog builds up."""
    if not due:
        return 0.0
    late = sum(
        1 for u, d in zip(due, done) if d is None or d - u > slots * interval
    )
    return late / len(due)


# --- process-tree memory --------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass  # exited between the scan and the read
    return total


class ProcessTree:
    """Background sampler of a process and its descendants (the Spark
    JVM, the Python daemon and its workers): peak resident memory of the
    whole tree, and every pid seen in it, so that processes which left
    the tree's process group can still be waited for."""

    def __init__(self, root: int, period: float = 0.2) -> None:
        self.root, self.period = root, period
        self.peak = 0
        self.seen: set[int] = {root}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            pids = tree_pids(self.root)
            self.seen.update(pids)
            self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(self.period)


# --- host audit -------------------------------------------------------------


def read_cpu_jiffies() -> dict[str, int] | None:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {k: int(v) for k, v in zip(names, parts[1:9])}


def steal_pct(before: dict | None, after: dict | None) -> float | None:
    """Hypervisor steal as a share of all CPU time between two readings."""
    if not before or not after:
        return None
    total = sum(after.values()) - sum(before.values())
    if total <= 0:
        return 0.0
    return 100.0 * (after["steal"] - before["steal"]) / total


def mem_total_kb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


CONTENDED_STEAL_PCT = 2.0
