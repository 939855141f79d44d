"""Dump explain("formatted") for the headline bench queries to
plans/<round>/<query>_<tag>.txt (optimization-round before/after evidence).

Usage: python tools/dump_plans.py <round> <tag> [name ...]
    round: output subdirectory, e.g. "r15".
    tag: "before" or "after"; with no names, dumps the whole bench set.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sdc_mapreduce_spark.plans import formatted_plan
from sdc_mapreduce_spark.queries import REGISTRY, bench_queries
from sdc_mapreduce_spark.queries.base import drain_pins
from sdc_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or list(bench_queries())
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"dump-plans-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = formatted_plan(df)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan + "\n")
        drain_pins(spark)
        print(name, "ok")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
