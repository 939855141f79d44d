"""Physical-plan inspection utilities.

The engine has no custom Catalyst rules (SURVEY.md §4: the reference has no
optimizer at all, and Catalyst covers every rewrite reference parity needs),
so this package's job is *verification* of the plans Catalyst produces:
the pushdown/broadcast/partial-agg properties the engine promises at scale
are asserted in tests/test_plans.py through these helpers, and
``explain_all`` dumps the formatted plan of every registered query for
review.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The (possibly adaptive) physical plan as a string."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """explain('formatted') output — numbered operators with details."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def explain_all(spark, sf_dir: str) -> dict[str, str]:
    """Formatted plan for every registered query (skips queries whose plan
    needs runtime artifacts, e.g. fitted models, if they fail to build)."""
    from sdc_mapreduce_spark import queries as qreg

    plans: dict[str, str] = {}
    for name, fn in qreg.queries().items():
        try:
            plans[name] = formatted_plan(fn(spark, sf_dir))
        except Exception as exc:  # pragma: no cover - diagnostic path
            plans[name] = f"<failed to build plan: {exc}>"
    return plans
