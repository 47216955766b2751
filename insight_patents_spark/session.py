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
- The codegen class cache holds ``CODEGEN_CACHE_ENTRIES`` classes, so a
  warm rerun of a query compiles nothing an earlier run compiled. The
  conf is static: it is read once, when the SparkContext starts, so
  ``configure()`` cannot set it, and a session built elsewhere (the
  verify driver's) keeps Spark's default of 100 entries.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Entries of Spark's codegen class cache (spark.sql.codegen.cache.maxEntries,
# an LRU keyed by generated source). The default, 100, is below one query's
# working set: a pipeline_llm_curation_e2e op compiles 149 distinct classes
# and a perfbench query_mix pass 146-147 (sf0.01), so the LRU cycles and a
# warm rerun recompiles nearly all of them, about 20% of the JVM's CPU in
# Janino. 1,024 covers any one workload several times over. It deliberately
# does not hold the whole registry (4,870 distinct classes at sf0.001, and a
# second pass over it compiles only 111 AQE plan variants): that would keep
# every class of all 375 queries resident to save recompiling queries a
# session seldom revisits.
CODEGEN_CACHE_ENTRIES = 1024


def session_confs() -> dict[str, str]:
    """The confs of every session the engine builds (``get_spark``,
    ``tools/cpu_probe.py``), master included."""
    return {
        "spark.master": f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": "64",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }


def get_spark(
    app_name: str = "insight-patents-spark", confs: Mapping[str, str] | None = None
) -> SparkSession:
    """The engine's session, built from ``confs`` (default
    ``session_confs()``)."""
    builder = SparkSession.builder.appName(app_name)
    for k, v in (session_confs() if confs is None else confs).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes the session's JVM has compiled so far: one per
    codegen cache miss (Spark's ``CodegenMetrics`` compilation-time
    histogram count)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created session.

    The verify driver constructs its own SparkSession; every conf the
    engine depends on at query time must be applied here (only
    runtime-settable SQL confs belong in this list). Static confs are
    not: ``spark.sql.codegen.cache.maxEntries`` is fixed when the
    SparkContext starts, so such a session keeps Spark's default of 100
    cached classes and recompiles more on warm reruns, with the same
    results.
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
