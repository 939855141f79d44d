"""The benchmark's own tests: pure Python, no Spark session.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import corpus
import harness
import jobs_load
import sparkstats
from common import (
    Outcomes, Span, Tracer, covered, late_fraction, open_loop_latencies,
    self_times, tail_percentile,
)

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- self time --------------------------------------------------------------


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert covered([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_subtracts_children_once():
    spans = [
        Span("sample", 0.0, 10.0, "q#1"),
        Span("queries.build", 1.0, 4.0, "q#1", parent=0),
        Span("spark.action", 3.0, 9.0, "q#1", parent=0),  # overlaps build
        Span("inner", 5.0, 6.0, "q#1", parent=2),
    ]
    assert self_times(spans) == pytest.approx([2.0, 3.0, 5.0, 1.0])


def test_self_time_clips_children_to_parent():
    spans = [Span("p", 0.0, 1.0, "s"), Span("c", 0.5, 3.0, "s", parent=0)]
    assert self_times(spans)[0] == pytest.approx(0.5)


def test_tracer_records_parents_and_layer_table(tmp_path, monkeypatch):
    tr = Tracer()
    with tr.span("sample", "a#1"):
        with tr.span("queries.build", "a#1"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    monkeypatch.setattr(harness, "WORK", str(tmp_path))
    lines = harness.trace_report("w", 1, tr.to_json())
    assert len(lines) == 3 and lines[1].split()[1:3] == ["sample", "1"]
    assert json.load(open(tmp_path / "trace-w-s1.json"))[1]["parent"] == 0


# --- percentiles --------------------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(100)))[0] == 90
    assert tail_percentile(list(range(20))) == (50, 9)
    assert tail_percentile(list(range(19))) is None
    p, value = tail_percentile([float(i) for i in range(40)])
    assert p == 75 and sum(1 for x in range(40) if x > value) >= 10


# --- open loop ----------------------------------------------------------------


def test_open_loop_latency_counts_from_due_time():
    due = [0.0, 1.0, 2.0]
    sent = [0.0, 1.5, 2.5]  # the generator ran late on the last two
    done = [0.4, 1.9, None]
    lat = open_loop_latencies(due, done)
    assert lat == pytest.approx([0.4, 0.9])
    assert lat[1] > done[1] - sent[1]


def test_late_fraction_counts_backlog_and_lost_jobs():
    due = [0.0, 1.0, 2.0, 3.0]
    done = [0.5, 12.5, 2.5, None]
    assert late_fraction(due, done, interval=1.0, slots=10) == pytest.approx(0.5)


# --- generator determinism ------------------------------------------------


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_corpus_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    base = corpus.fixture_dir(0.01)
    corpus.permute(base, str(tmp_path / "s1a"), 1)
    corpus.permute(base, str(tmp_path / "s1b"), 1)
    corpus.permute(base, str(tmp_path / "s2"), 2)
    corpus.permute(base, str(tmp_path / "s0"), 0)
    a, b, c = _files(tmp_path / "s1a"), _files(tmp_path / "s1b"), _files(tmp_path / "s2")
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    s0 = _files(tmp_path / "s0")
    s0.pop("_COMPLETE")
    assert s0 == _files(base)
    # a permutation: same rows, other order, one row group as in the fixture
    t1 = pq.read_table(tmp_path / "s1a" / "orders.parquet")
    t0 = pq.read_table(os.path.join(base, "orders.parquet"))
    assert t1.schema == t0.schema
    assert sorted(t1.column("o_orderkey").to_pylist()) == sorted(t0.column("o_orderkey").to_pylist())
    assert t1.column("o_orderkey").to_pylist() != t0.column("o_orderkey").to_pylist()
    assert pq.ParquetFile(tmp_path / "s1a" / "orders.parquet").num_row_groups == 1


def test_fixture_ids_follow_file_contents(tmp_path):
    base = corpus.fixture_dir(0.01)
    assert corpus.fixture_id(base) == corpus.fixture_id(base)
    assert corpus.permuted_id(base) != corpus.fixture_id(base)
    one, two = tmp_path / "one", tmp_path / "two"
    one.write_bytes(b"a")
    two.write_bytes(b"b")
    assert corpus.content_id([str(one)]) != corpus.content_id([str(two)])


def test_oracle_cache_recomputes_an_entry_whose_sql_changed(tmp_path, monkeypatch):
    import oracle
    import sdc_mapreduce_spark.queries as queries

    base = corpus.fixture_dir(0.01)
    cache = str(tmp_path / "oracle.json")
    sql = {"n_regions": "SELECT count(*) FROM region"}
    monkeypatch.setattr(queries, "oracle_sql", lambda: sql)
    first = oracle.oracle_answers(base, ["n_regions"], cache)
    assert first["n_regions"]["rows"] == 1
    # a stale entry with the same SQL is trusted ...
    with open(cache) as f:
        data = json.load(f)
    data["n_regions"]["hash"] = "stale"
    with open(cache, "w") as f:
        json.dump(data, f)
    assert oracle.oracle_answers(base, ["n_regions"], cache)["n_regions"]["hash"] == "stale"
    # ... and recomputed once the oracle SQL changes
    sql["n_regions"] = "SELECT count(*) FROM nation"
    assert oracle.oracle_answers(base, ["n_regions"], cache)["n_regions"]["hash"] not in ("stale", first["n_regions"]["hash"])


def test_wordcount_inputs_and_schedule_follow_the_seed(tmp_path):
    a = corpus.wordcount_files(str(tmp_path / "a"), 3, 2, 50)
    b = corpus.wordcount_files(str(tmp_path / "b"), 3, 2, 50)
    c = corpus.wordcount_files(str(tmp_path / "c"), 4, 2, 50)
    assert [open(p).read() for p in a] == [open(p).read() for p in b]
    assert [open(p).read() for p in a] != [open(p).read() for p in c]
    counts = corpus.expected_wordcount(a)
    assert counts and all(k.isalnum() for k in counts)
    kinds = ["x", "y", "z"]
    s = corpus.job_schedule(5, kinds, 9)
    assert s == corpus.job_schedule(5, kinds, 9)
    assert Counter(s) == Counter({"x": 3, "y": 3, "z": 3})
    starts = {corpus.job_schedule(seed, kinds, 3)[0] for seed in range(20)}
    assert starts == set(kinds)
    # every kind always follows the same kind
    assert all(s[i] == kinds[(kinds.index(s[i - 1]) + 1) % 3] for i in range(1, 9))


# --- failure accounting --------------------------------------------------------


def test_outcomes_fraction():
    out = Outcomes()
    for ok in (True, True, False, True):
        out.record(ok, "x")
    assert (out.attempted, out.failed, out.failed_frac) == (4, 1, 0.25)


def _write_parts(d, parts):
    os.makedirs(d)
    for i, lines in enumerate(parts):
        with open(os.path.join(d, f"part-{i:05d}.txt"), "w") as f:
            f.writelines(f"{k} {v}\n" for k, v in lines)


def test_wordcount_check_rejects_wrong_outputs(tmp_path):
    want = Counter({"a": 2, "b": 1, "c": 5})
    _write_parts(tmp_path / "ok", [[("a", 2), ("c", 5)], [("b", 1)]])
    assert jobs_load._check_wordcount(str(tmp_path / "ok"), want) == "ok"
    _write_parts(tmp_path / "count", [[("a", 2), ("c", 4)], [("b", 1)]])
    assert jobs_load._check_wordcount(str(tmp_path / "count"), want) != "ok"
    _write_parts(tmp_path / "order", [[("c", 5), ("a", 2)], [("b", 1)]])
    assert "sorted" in jobs_load._check_wordcount(str(tmp_path / "order"), want)
    _write_parts(tmp_path / "split", [[("a", 1), ("c", 5)], [("a", 1), ("b", 1)]])
    assert "more than one" in jobs_load._check_wordcount(str(tmp_path / "split"), want)


def test_query_check_rejects_a_wrong_answer(tmp_path):
    from oracle import answer_of

    rows = [(1, "x"), (2, "y")]
    want = answer_of(["k", "v"], rows)
    out = tmp_path / "out"
    out.mkdir()
    pq.write_table(pa.table({"k": [2, 1], "v": ["y", "x"]}), out / "part-0.parquet")
    assert jobs_load._check_query(str(out), want) == "ok"
    pq.write_table(pa.table({"k": [2, 1], "v": ["y", "z"]}), out / "part-0.parquet")
    assert jobs_load._check_query(str(out), want).startswith("mismatch")


def test_failed_job_or_wrong_output_raises_failed_frac(tmp_path):
    load = jobs_load.Load.__new__(jobs_load.Load)
    load.expected = {"wordcount": Counter({"a": 1})}
    _write_parts(tmp_path / "bad", [[("a", 2)]])
    out = Outcomes()
    for status, path in (("COMPLETED", tmp_path / "bad"), ("FAILED", None)):
        verdict = jobs_load.verdict(load, "wordcount", status, str(path))
        out.record(verdict == "ok")
    assert out.failed_frac == 1.0


# --- per-family metrics ------------------------------------------------------


def test_sample_row_splits_eager_jobs_from_the_action():
    group = {"submitted": [9.0, 10.5, 10.2, None], "jobs": 4, "task_core_s": 2.0}
    row = harness.sample_row(group, 10.0, 1.0)
    assert row["eager_jobs"] == 1
    assert row["plan_s"] == pytest.approx(0.2)
    assert row["jobs"] == 4 and "submitted" not in row


def _row(task, wall, plan, **kw):
    row = dict.fromkeys(harness.FAMILY_FIELDS, 0.0) | kw
    row.update(task_core_s=task, wall=wall, plan_s=plan)
    return row


def test_family_metrics_sums_query_means_over_a_family():
    rows = {
        "a": [_row(2.0, 1.0, 0.1, jobs=2), _row(4.0, 1.0, 0.3, jobs=4)],
        "b": [_row(1.0, 2.0, 0.5, jobs=1)],
        "c": [_row(8.0, 2.0, 0.0, jobs=9)],
    }
    family = {"a": "dedup", "b": "dedup", "c": "text"}
    m = harness.family_metrics(rows, {"a": 1.5, "b": 2.5, "c": 2.0}, family, 4,
                               build={"a": [0.1, 0.3, 0.2]})
    assert m["dedup.jobs"][0] == pytest.approx(3 + 1)
    assert m["dedup.plan_s"][0] == pytest.approx(0.2 + 0.5)
    assert m["dedup.build_s"][0] == pytest.approx(0.2)
    assert m["dedup.wall_s"] == (4.0, "s")
    assert m["dedup.idle_frac"][0] == pytest.approx(1 - 7.0 / (4.0 * 4))
    assert m["text.idle_frac"][0] == pytest.approx(0.0)
    assert m["events.idle_frac"][0] == 0.0 and m["events.jobs"][0] == 0.0
    assert set(m) == {f"{f}.{k}" for f in harness.FAMILIES for k in harness.FAMILY_FIELDS}


# --- Spark accounting -------------------------------------------------------


def test_parse_metric_units():
    assert sparkstats.parse_metric("1024.8 KiB") == pytest.approx(1024.8 * 1024)
    assert sparkstats.parse_metric("total (min, med, max (stageId: taskId))\n8.4 s (1.9 s, 2.2 s)") == pytest.approx(8.4)
    assert sparkstats.parse_metric("688 ms") == pytest.approx(0.688)
    assert sparkstats.parse_metric("10,000") == 10000


def test_by_group_sums_completed_stages_and_sql_nodes():
    data = {
        "jobs": [
            {"jobId": 0, "jobGroup": "g", "stageIds": [0, 1],
             "submissionTime": "2026-01-01T00:00:00.500GMT"},
            {"jobId": 1, "jobGroup": "h", "stageIds": [2]},
        ],
        "stages": [
            {"stageId": 0, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 4,
             "executorRunTime": 1500, "shuffleWriteBytes": 10, "inputBytes": 7},
            {"stageId": 1, "attemptId": 0, "status": "SKIPPED", "executorRunTime": 999},
            {"stageId": 2, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 1,
             "executorRunTime": 100, "outputBytes": 5},
        ],
        "sql": [
            {"successJobIds": [0], "nodes": [
                {"nodeName": "MapInPandas", "metrics": [
                    {"name": sparkstats.PY_RUN, "value": "total (min)\n2.0 s (1 s)"},
                    {"name": sparkstats.PY_BOOT, "value": "total (min)\n1.0 s (1 s)"},
                    {"name": sparkstats.PY_INIT, "value": "total (min)\n500 ms (1 s)"}]},
                {"nodeName": "BroadcastExchange", "metrics": [
                    {"name": "data size", "value": "1.0 MiB"}]}]},
        ],
    }
    g = sparkstats.by_group(data)
    assert g["g"]["jobs"] == 1 and g["g"]["stages"] == 1 and g["g"]["tasks"] == 4
    assert g["g"]["task_core_s"] == pytest.approx(1.5)
    assert g["g"]["python_s"] == pytest.approx(2.0)
    assert g["g"]["python_init_s"] == pytest.approx(1.5)
    assert g["g"]["broadcast_bytes"] == 2**20
    assert g["g"]["submitted"][0] == pytest.approx(1767225600.5)
    assert g["h"]["output_bytes"] == 5 and g["h"]["python_s"] == 0


# --- BENCHMARK.json ---------------------------------------------------------


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(harness.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(harness.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} == {"batch_sf01", "jobs_open_loop"}
