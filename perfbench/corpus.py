"""Seeded inputs for the benchmark.

The table corpus is the engine's own test fixture, committed under
``perfbench/fixture/<sf>/`` (the ten catalog tables at sf0.1 and sf0.01,
the same files the repository's bench and oracle gate read). ``permute``
derives the corpus a run actually reads: every table's rows in a
seed-chosen order (seed 0 keeps the fixture byte for byte). Every
registered query is order-independent, so the expected answers are those
of the fixture and the DuckDB oracle runs once per fixture.

``wordcount_files`` and ``job_schedule`` make the job workload's text
inputs and submission order from the seed.

Same arguments, byte-identical files. Everything here is numpy/pyarrow;
nothing starts Spark.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sdc_mapreduce_spark.catalog import TABLES

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")


def fixture_dir(sf: float) -> str:
    return os.path.join(FIXTURE, f"sf{sf}")


def content_id(paths: list[str]) -> str:
    """Short digest of the files' bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def fixture_id(base: str) -> str:
    """Digest of a fixture's tables: keys its oracle answers."""
    return content_id([os.path.join(base, f"{t}.parquet") for t in TABLES])


def permuted_id(base: str) -> str:
    """Digest of a fixture and of this file: keys the permuted copies, so a
    change to either makes them anew."""
    return content_id([os.path.join(base, f"{t}.parquet") for t in TABLES] + [__file__])


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, as in the fixture
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def permute(base: str, dest: str, seed: int) -> None:
    """Write every table of ``base`` into ``dest`` with its rows in a
    seed-chosen order; seed 0 copies the files byte for byte."""
    marker = os.path.join(dest, "_COMPLETE")
    if os.path.exists(marker):
        return
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, name in enumerate(TABLES):
        src, out = os.path.join(base, f"{name}.parquet"), os.path.join(tmp, f"{name}.parquet")
        if seed == 0:
            shutil.copyfile(src, out)
            continue
        table = pq.read_table(src)
        order = np.random.default_rng([seed, i]).permutation(table.num_rows)
        _write(table.take(pa.array(order)), out)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)


_WC_VOCAB = [f"w{i}" for i in range(400)] + (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_WC_NOISE = ["it's", "x-y", "end.", "(a)", "--", "Total:", "42", "r2d2"]


def wordcount_files(dest: str, seed: int, n_files: int, n_lines: int) -> list[str]:
    """Seeded text files for word-count jobs: Zipf-ish word frequencies,
    with non-alphanumeric tokens mixed in (the reference mapper drops
    them). Returns the file paths."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(dest, exist_ok=True)
    vocab = np.array(_WC_VOCAB + _WC_NOISE)
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    perm = rng.permutation(len(vocab))
    paths = []
    for f in range(n_files):
        lengths = rng.integers(3, 16, n_lines)
        toks = vocab[perm[rng.choice(len(vocab), int(lengths.sum()), p=weights)]]
        bounds = np.concatenate([[0], np.cumsum(lengths)])
        path = os.path.join(dest, f"text_{f}.txt")
        with open(path, "w") as fh:
            for i in range(n_lines):
                fh.write(" ".join(toks[bounds[i] : bounds[i + 1]]) + "\n")
        paths.append(path)
    return paths


def expected_wordcount(paths: list[str]) -> Counter:
    """The reference word count: whitespace split, ``str.isalnum`` tokens."""
    counts: Counter = Counter()
    for p in paths:
        with open(p) as fh:
            for line in fh:
                counts.update(t for t in line.split() if t.isalnum())
    return counts


def job_schedule(seed: int, kinds: list[str], n_jobs: int) -> list[str]:
    """Round-robin over ``kinds`` starting at a seed-chosen kind: every kind
    is sent equally often and always right after the same kind, so the
    queueing each kind meets does not change with the seed."""
    start = random.Random(seed).randrange(len(kinds))
    return [kinds[(start + i) % len(kinds)] for i in range(n_jobs)]
