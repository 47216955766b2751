"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over :mod:`insight_patents_spark.registry` — every operator
from SURVEY.md §2 registers its (Spark implementation, DuckDB oracle SQL)
pair there; this module only re-exposes the registry in the driver's
shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from insight_patents_spark import registry
from insight_patents_spark.session import configure


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    configure(spark)
    from insight_patents_spark.operators.aggregates import agg_groupby

    return agg_groupby(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    regs = registry.queries()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in regs.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every key in ``queries()``."""
    return registry.oracle_sql()
