"""Expected answers: each query's DuckDB oracle over the fixture, reduced
to (row count, order-insensitive value hash) with the same ``value_hash``
the repository's oracle gate uses (tools/check_oracle.py).

Row permutation does not change an order-independent answer, so one
oracle pass per fixture serves every seed. Answers are cached in a JSON
file keyed by the fixture's digest; each entry also carries a digest of
the oracle SQL it came from and is recomputed when that SQL changes.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from sdc_mapreduce_spark.catalog import TABLES, table_path
from tools.check_oracle import value_hash


def sql_id(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def oracle_answers(base_dir: str, names: list[str], cache_path: str) -> dict[str, dict]:
    """``{name: {"rows": int, "hash": str}}`` for every query in ``names``."""
    from sdc_mapreduce_spark.queries import oracle_sql

    sql = oracle_sql()
    cached: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    missing = [n for n in names if cached.get(n, {}).get("sql") != sql_id(sql[n])]
    if missing:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(base_dir, t)}')"
                )
            for n in missing:
                res = con.execute(sql[n])
                cols = [d[0] for d in res.description]
                cached[n] = answer_of(cols, res.fetchall()) | {"sql": sql_id(sql[n])}
        finally:
            con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return {n: {"rows": cached[n]["rows"], "hash": cached[n]["hash"]} for n in names}


def answer_of(cols: list[str], rows: list[tuple]) -> dict:
    return {"rows": len(rows), "hash": value_hash(cols, rows)}
