"""Physical-plan inspection helpers (SURVEY §4).

The engine's scale story rests on Catalyst choosing the right physical
strategy; these helpers make that checkable in tests instead of assumed:
predicate pushdown reaching the parquet scan, column pruning in
ReadSchema, broadcast joins for dims, TakeOrderedAndProject for top-k,
partial (map-side) aggregation, and whole-stage codegen coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def assert_in_plan(df: DataFrame, *needles: str) -> None:
    plan = formatted_plan(df)
    missing = [n for n in needles if n not in plan]
    if missing:
        raise AssertionError(f"plan is missing {missing}\n--- plan ---\n{plan}")
