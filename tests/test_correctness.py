"""Replicates the driver's t2 gate: every registered query vs its DuckDB
oracle at sf0.01 (scalar-only result schema + row count + sorted column
names + order-insensitive values)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from insight_patents_spark import registry  # noqa: E402
from tools.check import compare  # noqa: E402

SPECS = registry.load_all()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    # Round-1 regression: agg_collect returned an array column and the
    # external comparator's pandas-based hasher crashed on it — every
    # result column must be atomic.
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"non-scalar result columns: {bad}"
    sdf = df.toPandas()
    odf = duck.execute(spec.oracle).df()
    problems = compare(name, sdf, odf)
    assert not problems, "; ".join(problems)
