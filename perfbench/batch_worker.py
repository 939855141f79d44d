"""Spark-side process of the batch workload.

Usage: python3 perfbench/batch_worker.py <spec.json>

The spec (written by batch.py) names the corpus, the queries with their
expected answers, the measuring time and whether to trace. The process
starts a session through ``session.get_spark``, runs each query once
untimed and checks that output against the oracle, then runs rounds of
timed executions to the noop sink with
``cache.drain_pins`` after each, outside the timer. It writes its results
to the spec's ``result_path``, after which the caller may kill it.

With ``setup_only`` it records when the session became ready and exits.
With ``trace`` every round runs each query twice, once plain and once
with spans around each call into a layer and a Spark job group per
sample; Spark's per-group accounting is read back at the end.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from common import Tracer, median  # noqa: E402

# The first executions after the warm-up still vary with JIT progress and
# passing contention, so each query's time is the median of at least two.
MIN_ROUNDS = 2



def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    tracer = Tracer()  # session spans are kept in untraced runs too
    with tracer.span("session.get_spark"):
        from sdc_mapreduce_spark.session import get_spark

        spark = get_spark("perfbench")
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
    result: dict = {
        "ready_at": time.time(),
        "session": {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory", None),
        },
    }
    if spec.get("setup_only"):
        _write(spec["result_path"], result)
        spark.stop()
        return 0

    from sdc_mapreduce_spark.cache import drain_pins
    from sdc_mapreduce_spark.queries import REGISTRY
    from oracle import answer_of

    sf_dir, names, trace = spec["sf_dir"], spec["queries"], bool(spec["trace"])

    def check(name: str) -> str:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            got = answer_of(list(df.columns), [tuple(r) for r in df.collect()])
        except Exception:
            return "error: " + traceback.format_exc(limit=3)
        want = spec["expected"][name]
        return "ok" if got == want else f"mismatch: got {got}, want {want}"

    def run_plain(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # untimed warm-up, which is also the correctness check: every query once
    # (JIT, code generation, Python worker start-up)
    checks, warmup_s = {}, {}
    with tracer.span("session.warmup"):
        for name in names:
            t0 = time.perf_counter()
            checks[name] = check(name)
            drain_pins(spark)
            warmup_s[name] = time.perf_counter() - t0

    runs: dict[str, list[float]] = {n: [] for n in names}
    traced: dict[str, list[float]] = {n: [] for n in names}
    samples: list[dict] = []
    storage_peak = 0
    errors: dict[str, str] = {}

    def traced_run(name: str, sample_id: str) -> None:
        nonlocal storage_peak
        fn = REGISTRY[name].fn
        group = f"perfbench:{sample_id}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        with tracer.span("sample", sample_id):
            with tracer.span("queries.build", sample_id):
                df = fn(spark, sf_dir)
            action_at = time.time()
            with tracer.span("spark.action", sample_id):
                df.write.format("noop").mode("overwrite").save()
        traced[name].append(time.perf_counter() - t0)
        sc.setJobGroup("", "")
        storage_peak = max(storage_peak, _storage_used(sc))
        samples.append(
            {"query": name, "group": group, "action_at": action_at, "wall": traced[name][-1]}
        )
        with tracer.span("cache.drain_pins", sample_id):
            drain_pins(spark)

    def sample(name: str, round_no: int) -> None:
        """One timed execution; with tracing also a traced one, before it
        in even rounds and after it in odd ones, so that neither side of
        the overhead comparison always runs warmer."""
        if trace and round_no % 2 == 0:
            traced_run(name, f"{name}#{round_no}")
        runs[name].append(run_plain(REGISTRY[name].fn))
        drain_pins(spark)
        if trace and round_no % 2 == 1:
            traced_run(name, f"{name}#{round_no}")

    # whole rounds over the queries: at least MIN_ROUNDS, more while the
    # measuring time lasts
    end = time.time() + spec["seconds"]
    rounds = 0
    while rounds < MIN_ROUNDS or time.time() < end:
        rounds += 1
        for name in names:
            if name not in errors:
                try:
                    sample(name, rounds)
                except Exception:
                    errors[name] = traceback.format_exc(limit=3)
                    drain_pins(spark)
        if len(errors) == len(names):
            break
    result.update(
        measured_until=time.time(),
        checks=checks,
        warmup_s=warmup_s,
        errors=errors,
        rounds=rounds,
        runs=runs,
        medians={n: median(v) for n, v in runs.items() if v},
    )
    if trace:
        from sparkstats import by_group, fetch

        result.update(
            traced_medians={n: median(v) for n, v in traced.items() if v},
            samples=samples,
            groups=by_group(fetch(sc.uiWebUrl, sc.applicationId)),
            storage_peak_bytes=storage_peak,
            spans=tracer.to_json(),
            cores=sc.defaultParallelism,
        )
    else:
        result["spans"] = tracer.to_json()
    _write(spec["result_path"], result)
    spark.stop()
    return 0


def _storage_used(sc) -> int:
    """Executor storage memory in use (cached blocks), summed."""
    status = sc._jsc.sc().getExecutorMemoryStatus()
    it = status.iterator()
    used = 0
    while it.hasNext():
        pair = it.next()._2()
        used += pair._1() - pair._2()
    return used


def _write(path: str, result: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, path)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
