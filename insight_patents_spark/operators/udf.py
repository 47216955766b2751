"""UDF / UDAF / UDTF surface (SURVEY §2.11; patterns from SNIPPETS.md).

The Python escape hatch, ranked by cost: Arrow-vectorized pandas UDFs
(~10-100× faster than row-at-a-time), then applyInPandas/mapInPandas for
table functions, plain Python UDFs only to demonstrate the slow path.
None of these appear in relational hot paths elsewhere in the engine
(BASELINE.md risk item 1).

Determinism: any float reduction done in Python uses the same
order-canonical sorted fold as the JVM-side operators, so results match
the SQL oracle bitwise.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.stable import py_tokens
from ..registry import query
from ..sources.tables import load


def _sorted_fold(values) -> float:
    """Sequential left fold over ascending-sorted doubles — the Python
    mirror of list_aggregate(list_sort(...), 'sum')."""
    acc = 0.0
    for v in np.sort(np.asarray(values, dtype="float64")):
        acc += v
    return acc


@query(
    "udf_python_scalar",
    oracle="""
    SELECT c_custkey,
           (c_custkey % 97) * 31 + LENGTH(CAST(c_custkey AS VARCHAR)) AS checksum
    FROM customer
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (patent-id checksum analog). Correctness
    demo only — each row crosses the JVM↔Python boundary individually."""

    @F.udf(returnType=T.LongType())
    def checksum(k: int) -> int:
        return (k % 97) * 31 + len(str(k))

    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", checksum("c_custkey").alias("checksum"))


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar UDF: whole columns cross the boundary as
    Arrow batches, arithmetic runs on numpy arrays (IEEE-identical to the
    JVM expression)."""

    @pandas_udf(T.DoubleType())
    def net_price(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1 - disc)

    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


@query(
    "udaf_pandas_agg",
    oracle="""
    SELECT l_returnflag,
           list_aggregate(list_sort(list(l_extendedprice * l_quantity)), 'sum')
             / list_aggregate(list_sort(list(l_quantity)), 'sum') AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: quantity-weighted mean price with
    order-canonical sums (sorted fold both in Python and in the oracle)."""

    @pandas_udf(T.DoubleType())
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        return _sorted_fold(price.values * qty.values) / _sorted_fold(qty.values)

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        weighted_avg("l_extendedprice", "l_quantity").alias("weighted_avg_price")
    )


@query(
    "udtf_apply_in_pandas",
    oracle="""
    WITH stats AS (
      SELECT user_id,
             list_aggregate(list_sort(list(value)), 'sum') / COUNT(*) AS mu,
             COUNT(*) AS n
      FROM events GROUP BY user_id
    ),
    var_ AS (
      SELECT e.user_id,
             list_aggregate(list_sort(list((e.value - s.mu) * (e.value - s.mu))), 'sum')
               / (ANY_VALUE(s.n) - 1) AS var_v
      FROM events e JOIN stats s USING (user_id)
      GROUP BY e.user_id
    )
    SELECT e.event_id, e.user_id,
           (e.value - s.mu) / SQRT(v.var_v) AS z_score
    FROM events e
    JOIN stats s USING (user_id)
    JOIN var_ v USING (user_id)
    """,
)
def udtf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map (applyInPandas): per-user z-score normalization. The
    mean and sample variance use sorted folds so the Python result equals
    the SQL oracle bitwise."""
    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("z_score", T.DoubleType()),
        ]
    )

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].values.astype("float64")
        n = len(v)
        mu = _sorted_fold(v) / n
        var = _sorted_fold((v - mu) * (v - mu)) / (n - 1)
        sd = np.sqrt(var)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "z_score": (v - mu) / sd,
            }
        )

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return e.groupBy("user_id").applyInPandas(normalize, schema=out_schema)


@query(
    "udtf_map_in_pandas",
    oracle="""
    SELECT o_orderkey, CAST(i AS BIGINT) AS copy_no, o_totalprice
    FROM (SELECT o_orderkey, o_totalprice, o_orderkey % 3 + 1 AS n_copies
          FROM orders WHERE o_orderkey % 50 = 0),
         LATERAL (SELECT unnest(range(1, CAST(n_copies AS BIGINT) + 1)) AS i)
    """,
)
def udtf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise table function (mapInPandas): deterministic row
    expansion — each order yields (o_orderkey % 3 + 1) copies with a copy
    index. Arrow batches in, arbitrary-cardinality batches out."""
    out_schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("copy_no", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            reps = (pdf["o_orderkey"] % 3 + 1).astype("int64")
            idx = pdf.index.repeat(reps)
            out = pdf.loc[idx, ["o_orderkey", "o_totalprice"]].reset_index(drop=True)
            out["copy_no"] = np.concatenate([np.arange(1, r + 1) for r in reps])
            yield out[["o_orderkey", "copy_no", "o_totalprice"]]

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    return o.mapInPandas(expand, schema=out_schema)


@query(
    "udtf_python",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(tokens, 1) - 1 AS BIGINT) AS pos,
           unnest(tokens) AS token,
           CAST(LENGTH(unnest(tokens)) AS BIGINT) AS token_len
    FROM (SELECT doc_id, string_split(text, ' ') AS tokens
          FROM documents WHERE doc_id % 20 = 0)
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF: lateral-join text → one row per token with
    position and length metadata."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: bigint, token: string, token_len: bigint")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate(py_tokens(text)):
                yield i, tok, len(tok)

    spark.udtf.register("ips_tokenize", Tokenize)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    d.createOrReplaceTempView("ips_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token, t.token_len
        FROM ips_docs_udtf d, LATERAL ips_tokenize(d.text) t
        """
    )


@query(
    "udtf_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(l_quantity * 100) AS BIGINT) AS qty_cents,
           CAST(round(l_discount * 10000) AS BIGINT) AS discount_bps
    FROM lineitem WHERE l_orderkey % 40 = 0
    """,
)
def udtf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-copy tier below mapInPandas — the function
    sees raw pyarrow RecordBatches (no pandas conversion, no object
    boxing), the right API when the Python stage is itself Arrow-native
    (e.g. handing batches to a C++/Rust tokenizer or an Arrow-based
    feature library). Integer cents arithmetic keeps the contract exact."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def cents(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # round_mode must be half_towards_infinity: pyarrow's default is
        # half-to-even while DuckDB's round() is half-away-from-zero —
        # they agree on this data only because no product lands on a .5
        # tie; the explicit mode removes the data dependence.
        for batch in batches:
            qty = pc.cast(
                pc.round(
                    pc.multiply(batch.column("l_quantity"), 100.0),
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            bps = pc.cast(
                pc.round(
                    pc.multiply(batch.column("l_discount"), 10000.0),
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(batch.column("l_orderkey"), pa.int64()),
                    pc.cast(batch.column("l_linenumber"), pa.int64()),
                    qty,
                    bps,
                ],
                names=["l_orderkey", "l_linenumber", "qty_cents", "discount_bps"],
            )

    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 40 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    )
    return li.mapInArrow(
        cents,
        schema=(
            "l_orderkey bigint, l_linenumber bigint, "
            "qty_cents bigint, discount_bps bigint"
        ),
    )


@query(
    "udf_python_arrow",
    oracle="""
    SELECT c_custkey,
           (c_custkey % 97) * 31 + length(CAST(c_custkey AS VARCHAR)) AS checksum
    FROM customer
    """,
)
def udf_python_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Arrow-optimized Python UDF (`@udf(useArrow=True)`): the
    SAME scalar function as udf_python_scalar, but rows cross the
    JVM↔Python boundary in Arrow batches instead of pickled one-at-a-
    time — typically ~2x faster than the legacy pickler while keeping
    the plain-Python programming model (no pandas Series handling as in
    pandas_udf). The middle rung of the Python-UDF ladder: legacy
    pickle < Arrow-optimized < pandas_udf (vectorized execution, not
    just vectorized transfer). Identical results to the row exhibit —
    the oracle is the same SQL."""

    @F.udf(returnType=T.LongType(), useArrow=True)
    def checksum(k: int) -> int:
        return (k % 97) * 31 + len(str(k))

    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", checksum("c_custkey").alias("checksum"))


@query(
    "udtf_table_arg",
    # Spark 4 polymorphic UDTF with a TABLE argument, PARTITION BY +
    # ORDER BY: the engine hands each event_type's time-ordered rows to
    # one UDTF instance, which emits that partition's longest strictly-
    # increasing RUN of values (length + exact cents of the run's last
    # value) in arrival order — per-group sequential logic that plain
    # SQL needs gaps-and-islands for, and the UDTF does statefully.
    # Ties between equal-length runs keep the FIRST (earliest) run.
    oracle="""
    WITH o AS (
      SELECT event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events),
    flag AS (
      SELECT event_type, cents, rn,
             CASE WHEN cents > LAG(cents) OVER w THEN 0 ELSE 1 END AS brk
      FROM o WINDOW w AS (PARTITION BY event_type ORDER BY rn)),
    runs AS (
      SELECT event_type, cents, rn,
             SUM(brk) OVER (PARTITION BY event_type ORDER BY rn) AS run_id
      FROM flag),
    per AS (
      SELECT event_type, run_id, COUNT(*) AS len,
             max_by(cents, rn) AS last_cents, MIN(rn) AS start_rn
      FROM runs GROUP BY event_type, run_id)
    SELECT event_type,
           CAST(min(struct_pack(negl := -len, srn := start_rn,
                                l := len, lc := last_cents))['l']
                AS BIGINT) AS longest_run,
           CAST(min(struct_pack(negl := -len, srn := start_rn,
                                l := len, lc := last_cents))['lc']
                AS BIGINT) AS run_last_cents
    FROM per GROUP BY event_type
    """,
)
def udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 UDTF with a TABLE argument (PARTITION BY / ORDER BY —
    the polymorphic table-function surface new in Spark 4): the engine
    feeds each event_type's rows, time-ordered, to a stateful UDTF
    instance that tracks the longest strictly-increasing value run and
    emits one summary row per partition in terminate(). This is the
    'per-group sequential program' tier between window functions
    (per-row, fixed frames) and applyInPandas (whole group in memory):
    the UDTF streams rows with O(1) state.

    Scale shape: one shuffle on the PARTITION BY key, rows streamed to
    Python in Arrow batches, O(1) state per group — the state never
    holds the partition. The oracle replays the identical run logic as
    gaps-and-islands SQL (earliest-run tie-break)."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="event_type: string, longest_run: bigint, "
        "run_last_cents: bigint"
    )
    class LongestRun:
        def __init__(self):
            self.key = None
            self.prev = None
            self.cur_len = 0
            self.best_len = 0
            self.best_last = None

        def eval(self, row):
            cents = row["cents"]
            self.key = row["event_type"]
            if self.prev is not None and cents > self.prev:
                self.cur_len += 1
            else:
                self.cur_len = 1
            self.prev = cents
            if self.cur_len > self.best_len:  # strict: earliest run wins ties
                self.best_len = self.cur_len
                self.best_last = cents

        def terminate(self):
            yield self.key, self.best_len, self.best_last

    spark.udtf.register("ips_longest_run", LongestRun)
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        "ts",
        "event_id",
    )
    e.createOrReplaceTempView("ips_events_udtf")
    return spark.sql(
        """
        SELECT event_type, longest_run, run_last_cents
        FROM ips_longest_run(
          TABLE(SELECT event_type, cents, ts, event_id FROM ips_events_udtf)
          PARTITION BY event_type ORDER BY (ts, event_id)
        )
        """
    )


@query(
    "udtf_apply_in_arrow",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_cents,
           CAST(MAX(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS max_bal_cents
    FROM customer GROUP BY c_nationkey
    """,
)
def udtf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInArrow (Spark 4's Arrow-native rung above
    applyInPandas — the one §2.11 exhibit the surface was missing): each
    group arrives as ONE pyarrow.Table (no pandas conversion, no object
    boxing) and the function returns a pyarrow.Table, the right tier
    when per-group logic is itself Arrow-native (Arrow-backed stats
    libraries, C++/Rust kernels). Semantics exhibit: per-nation customer
    rollup in integer cents (pc.round half_towards_infinity matches
    DuckDB's half-away-from-zero — the udtf_map_in_arrow contract), so
    every value is an exact int64 in both engines.

    Scale: one hash-partition shuffle on the group key, then
    embarrassingly parallel per-group Arrow batches; group state is one
    in-flight table per group (nation-sized groups here; a skewed key
    at 100 TB takes the salting posture like any groupBy)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def rollup(table: "pa.Table") -> "pa.Table":
        cents = pc.cast(
            pc.round(
                pc.multiply(table.column("c_acctbal"), 100.0),
                round_mode="half_towards_infinity",
            ),
            pa.int64(),
        )
        nk = pc.cast(table.column("c_nationkey"), pa.int64())[0].as_py()
        return pa.table(
            {
                "nationkey": pa.array([nk], pa.int64()),
                "n_cust": pa.array([table.num_rows], pa.int64()),
                "bal_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
                "max_bal_cents": pa.array([pc.max(cents).as_py()], pa.int64()),
            }
        )

    c = load(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    return c.groupBy("c_nationkey").applyInArrow(
        rollup,
        schema=(
            "nationkey bigint, n_cust bigint, "
            "bal_cents bigint, max_bal_cents bigint"
        ),
    )
