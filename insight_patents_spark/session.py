"""SparkSession factory for the engine.

Design notes (100 TB target, SURVEY §7):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion are what keep the same plans viable from
  local[32] up to a 1000-executor cluster.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the driver's ``events``
  table stores TIMESTAMP(NANOS) which Spark 4.1.2 otherwise refuses to
  read (PARQUET_TYPE_ILLEGAL, verified; SURVEY §5). With the flag the
  column arrives as bigint nanos and ``sources.tables`` converts it to
  TIMESTAMP_NTZ microseconds, matching DuckDB's read of the same file.
- Session timezone UTC so timestamp semantics are reproducible; all
  driver test tables are timezone-naive (read as TIMESTAMP_NTZ), so
  results are additionally timezone-independent by construction.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "insight-patents-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created session.

    The verify driver constructs its own SparkSession; every conf the
    engine depends on at query time must be applied here (only
    runtime-settable SQL confs belong in this list).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


@contextmanager
def conf_scope(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set runtime confs for the body of a ``with`` block; on exit each key
    gets its earlier value back, or is unset if it had none."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
