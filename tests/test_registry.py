"""Registry health: pure-import tests that need no SparkSession.

Round-7 postmortem coverage: a module-level error in one query module
(e.g. an f-string using a constant defined below it) used to raise at
``import sdc_mapreduce_spark.queries`` and zero the whole driver contract.
The package now quarantines bad modules instead of dying; these tests make
the quarantine loud in CI while the driver keeps its window.
"""

from __future__ import annotations

import subprocess
import sys


def test_queries_package_imports_cleanly():
    """The canonical smoke: a fresh interpreter must import the registry
    (module-level f-strings evaluate here, so use-before-definition bugs
    surface even when this pytest process already holds a cached import)."""
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sdc_mapreduce_spark.queries as q; "
            "assert not q.IMPORT_QUARANTINE, q.IMPORT_QUARANTINE; "
            "print(len(q.REGISTRY))",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert int(proc.stdout.strip()) >= 200


def test_import_quarantine_is_empty():
    import sdc_mapreduce_spark.queries as q

    assert q.IMPORT_QUARANTINE == {}, list(q.IMPORT_QUARANTINE)


def test_every_registered_query_is_prioritized():
    """CERT_HEAD names only registered queries, each once, and the
    registry keeps every query the modules register."""
    import sdc_mapreduce_spark.queries as q

    head = list(q.CERT_HEAD)
    assert len(head) == len(set(head)), "duplicate names in CERT_HEAD"
    assert set(head) <= set(q.REGISTRY), set(head) - set(q.REGISTRY)
    assert set(q.REGISTRY) == set(q._ALL)


def test_cert_head_leads_the_registry():
    """Oracle certification covers the first 50 registry entries: CERT_HEAD
    must lead the registry, in order, and fit inside that window."""
    import sdc_mapreduce_spark.queries as q

    assert len(q.CERT_HEAD) <= 50
    assert list(q.REGISTRY)[: len(q.CERT_HEAD)] == list(q.CERT_HEAD)


def test_entrypoint_contract():
    """__spark_entry__ exposes queries()/oracle_sql() with aligned keys."""
    import __spark_entry__ as e

    queries = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(queries)
    assert all(callable(f) for f in queries.values())
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())
