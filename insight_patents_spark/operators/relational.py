"""Scans / sources / sinks and projection / filter operators
(SURVEY §2.1-§2.2).

Reference parity: the patent pipeline's ingest stage reads bulk archive
files, splits them into per-patent records, and derives normalized fields
(SURVEY §0.1 steps 1-2, [PK-M]). Here each format round-trips through a
temp directory derived from the driver's parquet (TESTDATA is the only
sanctioned input), and the oracle checks the *values* against the source
view, so no oracle depends on temp files existing.

Scale notes: all scans are plain DataFrame sources -> full predicate
pushdown and column pruning apply. Sinks write partitioned parquet and
re-read with partition pruning (checked via .explain in tests/plans).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.stable import hex_int
from ..registry import query
from ..session import conf_scope
from ..sources.tables import load

# Stable temp root for format round-trips; content is derived purely from
# the driver testdata at the given sf_dir, keyed by sf so runs don't collide.
# The roundtrip scratch is per-PROCESS (fresh uuid suffix at module
# import, removed at exit): two concurrent suites sharing one scratch
# tree collide — embedded Derby allows exactly ONE JVM to boot a
# database directory (db.lck), and a sink written by process A while
# process B reads it doubles B's row counts (the VERDICT r8 JDBC
# finding, generalized). Every roundtrip op writes before it reads
# within one call, so values are path-independent by construction.
_TMP = os.path.join(
    tempfile.gettempdir(), f"ips_roundtrip_{uuid.uuid4().hex[:12]}"
)
atexit.register(shutil.rmtree, _TMP, ignore_errors=True)


def _roundtrip_dir(sf_dir: str, kind: str) -> str:
    key = sf_dir.strip("/").replace("/", "_")
    return os.path.join(_TMP, key, kind)


# --- §2.1 scans ---------------------------------------------------------


@query(
    "scan_parquet",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan with schema check (ingest analog)."""
    df = load(spark, sf_dir, "nation")
    assert [f.name for f in df.schema.fields] == [
        "n_nationkey",
        "n_name",
        "n_regionkey",
    ]
    return df


@query(
    "scan_csv",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
           c_acctbal AS acctbal
    FROM customer
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with explicit schema; values checked vs the source
    (double CSV text uses shortest-repr, which parses back bit-exactly)."""
    out = _roundtrip_dir(sf_dir, "customer_csv")
    src = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.col("c_acctbal").alias("acctbal"),
        "c_mktsegment",
    )
    src.write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(out)


@query(
    "scan_json",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    """,
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip (metadata columns; text omitted to keep the
    file small and escaping-trivial)."""
    out = _roundtrip_dir(sf_dir, "documents_json")
    src = load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    src.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return spark.read.schema(schema).json(out)


@query(
    "scan_text_parse",
    oracle="""
    SELECT CAST(regexp_extract(line, 'id=(\\d+)', 1) AS BIGINT) AS doc_id,
           regexp_extract(line, 'lang=(\\w+)', 1) AS lang
    FROM (SELECT 'id=' || doc_id || '|lang=' || lang AS line FROM documents)
    """,
)
def scan_text_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text ingest: write 'id=N|lang=xx' lines, read with spark.read.text,
    regex-split into typed columns (patent-archive record-splitting analog)."""
    out = _roundtrip_dir(sf_dir, "documents_text")
    src = load(spark, sf_dir, "documents").select(
        F.concat(F.lit("id="), F.col("doc_id"), F.lit("|lang="), F.col("lang")).alias(
            "value"
        )
    )
    src.write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    return raw.select(
        F.regexp_extract("value", r"id=(\d+)", 1).cast("bigint").alias("doc_id"),
        F.regexp_extract("value", r"lang=(\w+)", 1).alias("lang"),
    )


@query(
    "scan_xml",
    # DuckDB 1.0 has no XML reader, but it doesn't need one: the XML is
    # written FROM the documents table, so a correct parse must
    # hash-match the source columns read directly from parquet. This
    # upgrades the r2 rows-only check to a full value oracle.
    oracle="SELECT doc_id, lang, source FROM documents",
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest via Spark 4's native XML source (USPTO XML-grant analog).

    Writes one <doc> element per documents row, reads back with rowTag.
    """
    out = _roundtrip_dir(sf_dir, "documents_xml")
    src = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    src.write.mode("overwrite").format("xml").option("rowTag", "doc").save(out)
    df = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .load(out)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("lang").cast("string").alias("lang"),
            F.col("source").cast("string").alias("source"),
        )
    )
    return df.orderBy("doc_id")


@query(
    "sink_parquet",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice AS total
    FROM orders WHERE o_orderstatus IN ('O', 'F')
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned re-read.

    The re-read filter on the partition column prunes directories
    (PartitionFilters in the scan node), the 100 TB idiom for
    hot-partition queries.
    """
    out = _roundtrip_dir(sf_dir, "orders_by_status")
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("total")
    )
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out)
    return back.filter(F.col("o_orderstatus").isin("O", "F")).select(
        "o_orderkey", F.col("o_orderstatus").cast("string").alias("o_orderstatus"), "total"
    )


@query(
    "sink_csv",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV export + schema-checked re-read."""
    out = _roundtrip_dir(sf_dir, "region_csv")
    load(spark, sf_dir, "region").write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(out)




@query(
    "sink_jdbc",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS total
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def sink_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC sink + re-read (the reference's final load-into-Postgres/
    Neo4j serving step, SURVEY §0.1 step 5) against embedded Apache
    Derby — the one JDBC engine whose driver ships inside the local
    Spark distribution (derby-10.16 jars, probed round 3; no external DB
    is reachable from this sandbox).

    The Spark surface is the production one: `df.write.jdbc` issues
    partition-parallel batched INSERTs, `spark.read.jdbc` is a scan
    capable of predicate pushdown — against a server-mode URL
    (postgresql://...) the exact same code fans out across executors.
    Embedded Derby is single-JVM, so this exhibit works precisely
    because local[*] keeps all executor threads in one JVM; the
    cluster deployment swaps only the URL/driver pair."""
    out = _roundtrip_dir(sf_dir, "orders_derby")
    url = f"jdbc:derby:{out}/db;create=true"
    opts = {"url": url, "driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("total"),
    )
    (
        src.write.format("jdbc")
        .options(**opts, dbtable="urgent_orders")
        .mode("overwrite")
        .save()
    )
    back = spark.read.format("jdbc").options(**opts, dbtable="urgent_orders").load()
    return back.select(
        "o_orderkey", "o_custkey", F.col("o_orderstatus").cast("string").alias("o_orderstatus"), "total"
    )


@query(
    "sink_orc",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + re-read (Spark's other first-class columnar format —
    same vectorized reader / predicate-pushdown machinery as parquet).
    The oracle checks the roundtripped VALUES against the source table;
    DuckDB never needs to read ORC itself."""
    out = _roundtrip_dir(sf_dir, "nation_orc")
    src = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    src.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


# --- §2.2 projections / filters ----------------------------------------


@query(
    "project_compute",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_quantity * 2.5 + 1 AS scaled_qty
    FROM lineitem
    """,
)
def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column arithmetic; per-row IEEE ops are bit-deterministic so no
    rounding is needed (SURVEY §5)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        (F.col("l_quantity") * 2.5 + 1).alias("scaled_qty"),
    )


@query(
    "filter_pred",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 1000 AND 150000
      AND o_orderstatus IN ('O', 'F')
      AND o_orderpriority LIKE '%URGENT%'
      AND o_custkey IS NOT NULL
      AND NOT (o_orderkey % 10 = 0 AND o_totalprice < 5000)
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate battery; everything pushes to the parquet scan."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_totalprice").between(1000, 150000)
        & F.col("o_orderstatus").isin("O", "F")
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_custkey").isNotNull()
        & ~((F.col("o_orderkey") % 10 == 0) & (F.col("o_totalprice") < 5000))
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


@query(
    "filter_regex",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE regexp_matches(c_name, '[0-9]{3}$')
    """,
)
def filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex predicate (patent-number format matching analog)."""
    c = load(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").rlike("[0-9]{3}$")).select("c_custkey", "c_name")


@query(
    "case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 100000 THEN 'high'
                WHEN o_totalprice >= 30000 THEN 'mid'
                ELSE 'low' END AS price_band,
           CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
                ELSE 'other' END AS status_name
    FROM orders
    """,
)
def case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 100000, "high")
        .when(F.col("o_totalprice") >= 30000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "finished")
        .otherwise("other")
        .alias("status_name"),
    )


@query(
    "cast_null_fns",
    oracle="""
    SELECT c_custkey,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal_dec,
           CAST(c_nationkey AS VARCHAR) AS nation_str,
           COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg_or_other,
           CAST(c_acctbal < 0 AS INTEGER) AS is_negative
    FROM customer
    """,
)
def cast_null_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        # decimal cast exercised, then back to double: pandas lowers DuckDB
        # decimals to float64 while Spark yields Decimal objects — results
        # must never carry DecimalType (determinism contract, SURVEY §5)
        F.col("c_acctbal").cast("decimal(12,2)").cast("double").alias("bal_dec"),
        F.col("c_nationkey").cast("string").alias("nation_str"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")
        ).alias("seg_or_other"),
        (F.col("c_acctbal") < 0).cast("int").alias("is_negative"),
    )


# --- SQL entry path: subqueries (Catalyst decorrelation, SURVEY §4) -----


def _reg_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    """Expose loader-normalized tables to the spark.sql entry path. View
    names are per-session; loaders already own schema normalization."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(f"ips_{t}")


@query(
    "sql_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery through the SQL entry path: Catalyst plans the
    subquery as an independent stage and reuses it as a literal in the
    filter (no per-row re-execution). The avg is compared, not emitted,
    so raw-double aggregation order cannot break the value hash."""
    _reg_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM ips_orders
        WHERE o_totalprice > 1.8 * (SELECT AVG(o_totalprice) FROM ips_orders)
        """
    )


@query(
    "sql_exists_correlated",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
)
def sql_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL entry path:
    Catalyst decorrelates both into semi/anti joins
    (RewritePredicateSubquery) — the plan contains no per-row subquery
    execution, so it scales like any other join."""
    _reg_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM ips_customer c
        WHERE EXISTS (
            SELECT 1 FROM ips_orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
        AND NOT EXISTS (
            SELECT 1 FROM ips_orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        )
        """
    )


@query(
    "sql_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    """,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (top-2
    orders per customer) through the SQL entry path. Catalyst
    decorrelates the lateral into a ranked join (no per-row execution);
    the deterministic tiebreak (o_orderkey) keeps both engines exact."""
    _reg_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM ips_customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM ips_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        """
    )


@query(
    "scan_json_permissive",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_good,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT '<corrupt>' AS lang, 7 AS n_good, NULL AS total_chars
    """,
)
def scan_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input handling: a JSON-lines feed with 7 injected broken
    lines, read in PERMISSIVE mode — bad records land in
    `_corrupt_record` instead of failing the scan (the real-corpus
    ingest posture: never let one bad document kill a 100 TB job).
    Returns per-lang good-row stats plus the quarantined count; the
    oracle reproduces the good side from the clean table and states the
    injected bad count literally."""
    out = _roundtrip_dir(sf_dir, "documents_json_corrupt")
    src = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    src.write.mode("overwrite").json(out)
    # inject malformed lines deterministically (truncated JSON, bare text,
    # unclosed string, wrong bracket, half records)
    bad = [
        '{"doc_id": 1, "lang": "en"',
        "not json at all",
        '{"doc_id": "unclosed',
        "[1, 2",
        '{"doc_id":}',
        '{broken: true}',
        "}{",
    ]
    with open(os.path.join(out, "zz_corrupt.json"), "w") as f:
        f.write("\n".join(bad) + "\n")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return parsed.groupBy(
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("<corrupt>"))
        .otherwise(F.col("lang"))
        .alias("lang")
    ).agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_chars"))
        ).cast("bigint").alias("total_chars"),
    )


# --- training-pipeline sampling -----------------------------------------


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang,
           CAST(((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 10
                AS INTEGER) AS bucket
    FROM documents
    WHERE ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 10
          < CASE WHEN lang = 'en' THEN 2 ELSE 5 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-data curation: each
    document hashes to a bucket 0-9 via md5(doc_id) (content-independent,
    reproducible across engines/runs — no RNG seed to drift), and each
    language stratum keeps a different bucket range (en 20%, all other
    langs 50% — the class-rebalancing pattern). A narrow filter: no
    shuffle, fully pushdown-friendly, identical row selection at any
    scale or partitioning."""
    d = load(spark, sf_dir, "documents")
    bucket = hex_int(F.md5(F.col("doc_id").cast("string")), 2).cast("int") % 10
    keep = F.when(F.col("lang") == "en", F.lit(2)).otherwise(F.lit(5))
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < keep)
        .select("doc_id", "lang", "bucket")
    )


@query(
    "join_dpp",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning exhibit: a partitioned fact table joined
    to a dim filtered on a NON-key attribute ('hot' urgency class), so
    only the DPP subquery — not any static predicate — can prune the
    fact's partition directories. The physical scan shows
    ``dynamicpruningexpression(o_orderpriority IN ...)`` under
    PartitionFilters (gated in tests/test_plans.py).

    At 100 TB this is the flagship star-schema scan-killer: the broadcast
    of the filtered dim is reused as the pruning subquery, and the fact
    scan reads 2 of 5 partitions without the query author saying which."""
    from ..sources.tables import src_stamp

    out = _roundtrip_dir(
        sf_dir, f"orders_part_priority_{src_stamp(sf_dir, 'orders')}"
    )
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        load(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
            "o_orderpriority"
        ).parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            ("3-MEDIUM", "warm"),
            ("4-NOT SPECIFIED", "cold"),
            ("5-LOW", "cold"),
        ],
        "priority string, urgency string",
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("urgency") == "hot")),
            fact.o_orderpriority == dim.priority,
        )
        .groupBy(F.col("o_orderpriority").cast("string").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(22,6)"))
            .cast("double")
            .alias("total"),
        )
    )


@query(
    "sink_compaction",
    # File-count expectations DERIVED, not hard-coded (ADVICE r2): Spark
    # writes no file for an empty partition, so with fewer rows than
    # partitions the counts drop to the row count. Round-robin
    # repartition(n) fills every partition when rows >= n, hence
    # LEAST(n, total_rows) on the oracle side.
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST((SELECT LEAST(64, COUNT(*)) FROM events) AS INT) AS files_before,
           CAST((SELECT LEAST(4, COUNT(*)) FROM events) AS INT) AS files_after
    FROM events GROUP BY event_type
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a 64-file fragmented landing zone (what a
    streaming/parallel ingest leaves behind) rewritten into 4 right-sized
    files, content-preserving. The result carries the observed
    before/after file counts next to per-type counts computed from the
    COMPACTED copy, so the oracle check proves both that compaction
    happened and that no row was lost or duplicated.

    At 100 TB: small files are the #1 silent scan killer (per-file open
    cost, starved vectorized reads); the production loop is this exact
    rewrite driven by target file size (repartition to
    ceil(bytes/target)), run per landing partition."""
    from ..sources.tables import src_stamp

    frag = _roundtrip_dir(
        sf_dir, f"events_fragmented_{src_stamp(sf_dir, 'events')}"
    )
    compact = _roundtrip_dir(sf_dir, "events_compacted")
    e = load(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(frag, "_SUCCESS")):
        e.repartition(64).write.mode("overwrite").parquet(frag)
    n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    # At scale the repartition factor is ceil(input_bytes / target_size);
    # fixed here so the result is deterministic.
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    n_after = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    return (
        spark.read.parquet(compact)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            "n_events",
            F.lit(n_before).cast("int").alias("files_before"),
            F.lit(n_after).cast("int").alias("files_after"),
        )
    )


@query(
    "sink_zorder",
    oracle="""
    WITH xy AS (
      SELECT o_orderkey,
             CAST(o_custkey % 256 AS BIGINT) AS x,
             CAST(date_diff('day', TIMESTAMP '1992-01-01 00:00:00', ts_o) % 256 AS BIGINT) AS y
      FROM (SELECT o_orderkey, o_custkey, o_orderdate AS ts_o FROM orders)
    ),
    z AS (
      SELECT o_orderkey, x, y,
             CAST(list_aggregate(list_transform(range(0, 8),
               i -> (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))),
               'sum') AS BIGINT) AS zval
      FROM xy
    )
    SELECT CAST(zval // 4096 AS BIGINT) AS z_bucket,
           COUNT(*) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM z GROUP BY zval // 4096
    """,
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) data layout: interleave the bits of two
    query dimensions (customer bucket, day bucket) into one sort key,
    range-partition + sort the table by it, and write. Because the curve
    preserves 2-D locality, every file covers a small rectangle in
    (customer, date) space, so min/max row-group stats prune scans for
    predicates on EITHER dimension — multi-dimensional clustering from a
    1-D sort, the lakehouse OPTIMIZE ZORDER pattern. The result reports
    each coarse z-bucket's (x, y) bounding box; tight boxes ARE the
    data-skipping property (the oracle reproduces the bit arithmetic).

    At 100 TB: repartitionByRange samples the z-key distribution, so
    file count scales with data; the same two-line recipe (z column +
    range sort) works for any pair of selective dimensions."""
    out = _roundtrip_dir(sf_dir, "orders_zorder")
    o = load(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).cast("bigint")
    y = (
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("timestamp_ntz"))
        % 256
    ).cast("bigint")
    zbits = sum(
        (
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        for i in range(8)
    )
    zdf = o.select("o_orderkey", x.alias("x"), y.alias("y"), zbits.alias("zval"))
    (
        zdf.repartitionByRange(16, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy((F.col("zval") / 4096).cast("bigint").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT r_regionkey, r_name, NULL AS name_len
    FROM region WHERE r_regionkey % 2 = 0
    UNION ALL
    SELECT r_regionkey, r_name, CAST(LENGTH(r_name) AS BIGINT) AS name_len
    FROM region WHERE r_regionkey % 2 = 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift ingest: two parquet batches of the same logical table
    written at different pipeline versions (v2 adds a column), read as
    ONE dataset with mergeSchema — old rows surface NULL for the new
    column. This is how a 100 TB lake absorbs producer schema evolution
    without rewriting history; the merged-schema scan stays a plain
    vectorized parquet read (additive drift only — renames/retypes need
    a real migration)."""
    out = _roundtrip_dir(sf_dir, "region_evolving")
    r = load(spark, sf_dir, "region")
    v1 = r.filter(F.col("r_regionkey") % 2 == 0).select("r_regionkey", "r_name")
    v2 = r.filter(F.col("r_regionkey") % 2 == 1).select(
        "r_regionkey",
        "r_name",
        F.length("r_name").cast("bigint").alias("name_len"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(out, "batch=v1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "batch=v2"))
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(out, "batch=v1"), os.path.join(out, "batch=v2")
    )
    return merged.select("r_regionkey", "r_name", "name_len")


@query(
    "sink_partition_overwrite",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN rewritten THEN 1 ELSE 0 END) AS BIGINT) AS n_rewritten
    FROM (
      SELECT o_orderstatus, (o_orderstatus = 'F') AS rewritten FROM orders
    )
    GROUP BY o_orderstatus
    """,
)
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: rewrite ONLY the partitions present
    in the incoming batch (here status 'F', flagged rewritten=true),
    leaving sibling partitions untouched — the idempotent daily-reload
    primitive for a partitioned 100 TB table
    (``partitionOverwriteMode=dynamic``; static mode would wipe the
    whole table). The oracle checks both that every partition survived
    and that exactly the targeted rows carry the rewrite flag."""
    out = _roundtrip_dir(sf_dir, "orders_dyn_overwrite")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.lit(False).alias("rewritten"), "o_orderstatus"
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", F.lit(True).alias("rewritten"), "o_orderstatus")
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(out)
        )
    back = spark.read.parquet(out)
    return back.groupBy(
        F.col("o_orderstatus").cast("string").alias("o_orderstatus")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("rewritten"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rewritten"),
    )


@query(
    "scan_binary_files",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS byte_len,
           md5(text) AS content_md5
    FROM documents WHERE doc_id % 20 = 0
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-file ingest via the binaryFile source — how image/audio/video
    corpora enter a multimodal pipeline: one row per file with path,
    length, and raw bytes; no decode at scan time. Here each sampled
    document's text bytes are landed as a .bin file, read back through
    ``format("binaryFile")``, and identity-checked by md5 (ASCII text ->
    byte length equals char length). The doc id rides in the filename,
    exactly like asset ids ride object-store keys in production.

    At 100 TB: binaryFile scans parallelize per file and prune with
    pathGlobFilter/recursiveFileLookup; pair with mm_binary_features /
    mm_decode_stub for the downstream Arrow-batched decode."""
    from ..sources.tables import src_stamp

    out = _roundtrip_dir(sf_dir, f"doc_blobs_{src_stamp(sf_dir, 'documents')}")
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    if not os.path.exists(os.path.join(out, "_DONE")):
        os.makedirs(out, exist_ok=True)

        # Distributed landing write: executors write the blob files
        # directly (no driver-side collect loop). Valid wherever `out`
        # is a shared filesystem — which it must be for binaryFile to
        # read it back on a cluster anyway; local[<n>] trivially
        # qualifies.
        def _land(rows):
            for r in rows:
                with open(os.path.join(out, f"doc_{r.doc_id}.bin"), "wb") as fh:
                    fh.write(r.text.encode())

        d.select("doc_id", "text").foreachPartition(_land)
        open(os.path.join(out, "_DONE"), "w").close()
    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("byte_len"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "split_train_test",
    # Deterministic hash-based train/val/test split — the standard way a
    # training pipeline assigns examples to splits so membership is a
    # pure function of the key (stable across reruns, resharding, and
    # engines; no RNG state to checkpoint). Bucket = first 8 md5 hex
    # digits of the doc id as an integer, mod 100: 0-79 train,
    # 80-89 val, 90-99 test.
    oracle="""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           n_chars
    FROM (
      SELECT doc_id, n_chars,
             CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS UBIGINT) % 100 AS BIGINT) AS bucket
      FROM documents
    )
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5 of the
    document key.

    Plan: pure narrow projection — no shuffle, no RNG; at 100 TB the
    split column computes at scan speed and any downstream consumer can
    partition-by-split on write. Hash-mod (not rand() with a seed)
    means membership survives repartitioning and incremental appends —
    the property per-row rand() lacks once row order changes."""
    d = load(spark, sf_dir, "documents")
    bucket = hex_int(F.md5(F.col("doc_id").cast("string")), 8) % 100
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        "n_chars",
    )


@query(
    "sample_priority",
    # Priority sampling (hash-order top-k): per event_type keep the k=20
    # events with the smallest md5(event_id) — a uniform deterministic
    # sample with NO RNG (md5 order is pseudorandom w.r.t. the data) that
    # is also MERGEABLE: the union of two shards' top-k re-topped is the
    # global top-k, so samples maintain incrementally, unlike
    # ORDER BY rand() which reshuffles every run.
    oracle="""
    SELECT event_type, event_id, priority
    FROM (
      SELECT event_type, event_id, md5(CAST(event_id AS VARCHAR)) AS priority,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY md5(CAST(event_id AS VARCHAR))) AS rn
      FROM events
    ) WHERE rn <= 20
    """,
)
def sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group uniform k-sample via hash priorities: rank events inside
    each type by md5(event_id) and keep the 20 smallest. The plan gets
    WindowGroupLimit (each task keeps only k rows pre-shuffle), so the
    sample costs one bounded shuffle at any scale — the reservoir-sample
    replacement for distributed engines, and the sample is stable under
    resharding and incremental appends (merge = union + re-top-k)."""
    e = load(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    pri = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(pri)
    return (
        e.select("event_type", "event_id", pri.alias("priority"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("event_type", "event_id", "priority")
    )


@query(
    "scan_jdbc_partitioned",
    oracle="""
    SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DOUBLE) AS acctbal
    FROM customer WHERE c_acctbal > 0
    """,
)
def scan_jdbc_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC PARALLEL read — the scan-side complement to sink_jdbc's
    write: `spark.read.jdbc` with (partitionColumn, bounds, numParts)
    issues one range-predicated query per partition so executors scan a
    server-side table concurrently; the `c_acctbal > 0` filter is pushed
    into each generated SQL statement (predicate pushdown to the remote
    engine). Embedded Derby stands in for the warehouse exactly as in
    sink_jdbc; on a cluster only the URL/driver change, and bounds come
    from the table's min/max stats."""
    out = _roundtrip_dir(sf_dir, "customer_derby")
    url = f"jdbc:derby:{out}/db;create=true"
    opts = {"url": url, "driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", F.col("c_acctbal").cast("double").alias("acctbal")
    )
    src.write.format("jdbc").options(**opts, dbtable="customer_t").mode(
        "overwrite"
    ).save()
    n_rows = src.count()
    back = spark.read.jdbc(
        url=url,
        table="customer_t",
        column="c_custkey",
        lowerBound=1,
        upperBound=max(2, n_rows),
        numPartitions=4,
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    return back.filter(F.col("acctbal") > 0)


@query(
    "sample_weighted",
    # Weighted priority sampling (Efraimidis–Spirakis keys): priority
    # u^(1/w) with u a 48-bit md5-derived uniform and w = the event value
    # — inclusion probability proportional to weight, deterministic (no
    # RNG), and mergeable exactly like sample_priority. pow() is the one
    # transcendental, so ranking uses the 9dp-rounded key with event_id
    # tiebreak (the repo-wide determinism contract for transcendentals).
    oracle="""
    WITH e AS (SELECT event_id, event_type,
                      CAST(round(value*100,0) AS BIGINT) AS c FROM events),
    p AS (SELECT event_id, event_type, c,
                 round(pow(
                   CAST(('0x' || substr(md5('ws:' || CAST(event_id AS VARCHAR)), 1, 12)) AS BIGINT)
                     / 281474976710656.0,
                   1.0 / (greatest(c, 1) / 100.0)), 9) AS pri
          FROM e),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                    ORDER BY pri DESC, event_id) AS rn FROM p)
    SELECT event_id, event_type, c/100.0 AS value, pri FROM r WHERE rn <= 50
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis): each
    event draws key u^(1/weight) from a content-hash uniform and the top
    50 keys per event_type win — heavier events proportionally more
    likely, yet fully deterministic and stable under resharding. Like
    sample_priority the per-group top-k gets WindowGroupLimit (k rows
    kept per task pre-shuffle), so at 100 TB the pass stays one bounded
    shuffle; merging shard samples = union + re-top-k (the property that
    makes this THE distributed weighted reservoir replacement)."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
    )
    u = hex_int(
        F.md5(F.concat(F.lit("ws:"), F.col("event_id").cast("string"))), 12
    ).cast("double") / float(16**12)
    # weight clamped to >= 1 cent: sf0.1 contains value = 0.00 events,
    # and u^(1/0) divides by zero under ANSI mode (bench r4 discovery)
    pri = F.round(
        F.pow(u, 1.0 / (F.greatest(F.col("c"), F.lit(1)).cast("double") / 100.0)), 9
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(F.col("pri").desc(), F.col("event_id"))
    return (
        e.withColumn("pri", pri)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("event_id", "event_type", (F.col("c") / 100.0).alias("value"), "pri")
    )


@query(
    "split_backtest_folds",
    # Rolling-origin backtest folds (time-series cross-validation): fold
    # f trains on [t0, t0 + 10 + 5(f-1) days) and tests on the next 3
    # days. Events span 30 days (probed); membership is a pure function
    # of (ts, fold spec) so folds are stable under resharding — the
    # time-series analog of split_train_test's hash buckets.
    oracle="""
    WITH t0 AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events),
    folds AS (SELECT unnest(range(1, 5)) AS fold),
    spec AS (
      SELECT fold,
             d0 + INTERVAL ((10 + 5 * (fold - 1))) DAY AS cutoff,
             d0 + INTERVAL ((13 + 5 * (fold - 1))) DAY AS test_end
      FROM folds CROSS JOIN t0),
    tagged AS (
      SELECT s.fold,
             CASE WHEN e.ts < s.cutoff THEN 'train'
                  WHEN e.ts < s.test_end THEN 'test' END AS split,
             e.user_id, CAST(round(e.value*100,0) AS BIGINT) AS c
      FROM events e CROSS JOIN spec s
      WHERE e.ts < s.test_end)
    SELECT fold, split, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           SUM(c) / 100.0 AS sum_value
    FROM tagged GROUP BY fold, split
    """,
)
def split_backtest_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest splits (time-series CV — the evaluation
    harness for any forecasting model trained off this engine): 4
    expanding-window folds, each with a 3-day test horizon after its
    cutoff. The 4-row fold-spec table broadcasts and each event tags
    itself by pure timestamp comparison — membership is deterministic,
    shard-stable, and leakage-free by construction (train strictly
    precedes test). One broadcast join + one hash agg; the fan-out is
    x4 (folds), independent of data volume."""
    e = load(spark, sf_dir, "events").select(
        "ts", "user_id", F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c")
    )
    t0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    folds = spark.range(1, 5).select(F.col("id").cast("int").alias("fold"))
    spec = folds.crossJoin(t0).select(
        "fold",
        F.expr("date_add(d0, 10 + 5 * (fold - 1))").cast("timestamp").alias("cutoff"),
        F.expr("date_add(d0, 13 + 5 * (fold - 1))").cast("timestamp").alias("test_end"),
    )
    tagged = (
        e.join(F.broadcast(spec), e.ts < spec.test_end)
        .withColumn(
            "split",
            F.when(F.col("ts") < F.col("cutoff"), "train").otherwise("test"),
        )
    )
    return tagged.groupBy("fold", "split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        (F.sum("c") / 100.0).alias("sum_value"),
    )


@query(
    "join_runtime_bloom",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (the shuffle-join sibling of
    join_dpp's partition pruning): with a selective filter on the build
    side, Catalyst injects `bloom_filter_agg` over the filtered keys and
    rewrites the probe side's scan condition to `might_contain(...)` —
    the fact table drops non-matching rows BEFORE paying the shuffle,
    cutting shuffled bytes by the filter's selectivity. The exhibit
    forces the shuffle-join path (runtime filters don't apply to
    broadcast joins, where the dim itself is already the filter); the
    plan gate pins `might_contain` on the probe scan. At 100 TB this is
    the optimizer feature that makes fact-fact joins with selective dims
    survivable without manual semi-join staging."""
    filters = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with conf_scope(spark, filters):
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("l_extendedprice").cast("decimal(22,6)"))
                .cast("double")
                .alias("revenue"),
            )
        )
        # Materialize UNDER the forced confs: localCheckpoint executes
        # the bloom-filtered plan exactly once and pins its RESULT, so
        # the harness's later collect reads the checkpoint instead of
        # re-optimizing (which, with confs restored, would silently
        # replan to a broadcast join without might_contain and execute
        # the whole join a second time). 1-row result: checkpoint cost
        # is nil.
        return out.localCheckpoint()


@query(
    "time_calendar_dim",
    # Calendar dimension generator (every warehouse's first dim table):
    # one row per date spanning the fact table, with derived attributes.
    # Day-of-week comes from epoch-day arithmetic ((days + 4) % 7,
    # 1970-01-01 was a Thursday) because the engines' dayofweek()
    # conventions differ (Spark 1=Sunday, DuckDB 0=Sunday) — arithmetic
    # on exact ints has no convention to disagree on.
    oracle="""
    WITH span AS (SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
                  FROM events),
    days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM span)
    SELECT CAST(d AS VARCHAR) AS day,
           CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS epoch_day,
           CAST((date_diff('day', DATE '1970-01-01', d) + 4) % 7 AS INTEGER) AS dow,
           CAST(EXTRACT(day FROM d) AS INTEGER) AS day_of_month,
           CAST(EXTRACT(month FROM d) AS INTEGER) AS month,
           CAST((EXTRACT(month FROM d) + 2) // 3 AS INTEGER) AS quarter,
           (date_diff('day', DATE '1970-01-01', d) + 4) % 7 IN (0, 6) AS is_weekend
    FROM days
    """,
)
def time_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension generator: one row per date across the fact
    table's span with the derived attributes BI joins need (dow, month,
    quarter, weekend flag) — generated, never loaded, so it is always
    exactly as wide as the data. In-row `sequence(lo, hi)` + explode on
    a 1-row span; at any scale this stays a broadcast-sized dim that
    every date join consumes (and join_dpp's partition pruning rides
    such dims). Day-of-week via epoch-day arithmetic — the engines'
    dayofweek() conventions disagree, integer arithmetic cannot."""
    e = load(spark, sf_dir, "events")
    span = e.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    days = span.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    epoch_day = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast("bigint")
    dow = ((epoch_day + 4) % 7).cast("int")
    return days.select(
        F.col("d").cast("string").alias("day"),
        epoch_day.alias("epoch_day"),
        dow.alias("dow"),
        F.dayofmonth("d").cast("int").alias("day_of_month"),
        F.month("d").cast("int").alias("month"),
        ((F.month("d") + 2) / 3).cast("int").alias("quarter"),
        dow.isin(0, 6).alias("is_weekend"),
    )


# --- operational / data-quality family (r5) ------------------------------

_PROFILE_COLS = (
    # (name, kind, spark min/max expr, duckdb min/max expr)
    ("o_orderkey", "num", "CAST(o_orderkey AS DOUBLE)"),
    ("o_custkey", "num", "CAST(o_custkey AS DOUBLE)"),
    ("o_totalprice", "num", "o_totalprice"),
    ("o_orderstatus", "str", "o_orderstatus"),
    ("o_orderpriority", "str", "o_orderpriority"),
    ("o_orderdate", "str", "CAST(CAST(o_orderdate AS DATE) AS STRING)"),
)


def _profile_oracle() -> str:
    parts = []
    for name, kind, expr in _PROFILE_COLS:
        ddb_expr = expr.replace("AS STRING", "AS VARCHAR")
        mn_num = f"CAST(MIN({ddb_expr}) AS DOUBLE)" if kind == "num" else "CAST(NULL AS DOUBLE)"
        mx_num = f"CAST(MAX({ddb_expr}) AS DOUBLE)" if kind == "num" else "CAST(NULL AS DOUBLE)"
        mn_str = f"MIN({ddb_expr})" if kind == "str" else "CAST(NULL AS VARCHAR)"
        mx_str = f"MAX({ddb_expr})" if kind == "str" else "CAST(NULL AS VARCHAR)"
        parts.append(f"""
    SELECT '{name}' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT({name}) AS n_null,
           COUNT(DISTINCT {name}) AS n_distinct,
           {mn_num} AS min_num, {mx_num} AS max_num,
           {mn_str} AS min_str, {mx_str} AS max_str
    FROM orders""")
    return " UNION ALL ".join(parts)


@query("profile_table", oracle=_profile_oracle())
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile audit — the first query every pipeline runs against
    an unknown 100 TB table: per column, row/null/exact-distinct counts
    and typed min/max (numeric columns in min_num/max_num, strings and
    date renderings in min_str/max_str, the other pair NULL — no
    cross-engine float-formatting games).

    Scale shape (r13): one independent per-column branch per profiled
    column, unioned. Each branch is groupBy(col).count() — map-side
    combinable, so the shuffle carries only that column's DISTINCT
    values — followed by a second aggregate over the distinct-value
    table (n_rows = Σcnt, n_null = Σcnt where NULL, n_distinct = count
    of non-null values, min/max over the rendered value). This replaces
    the r5-r12 single-agg form whose multi-column COUNT(DISTINCT)
    planned as a 7x Expand feeding two all-column SortAggregates
    (1.05M sorted wide rows at sf0.1; measured 5.3-6.3 s → see
    OPTIMIZATION_r13.md). Per-branch shuffles are |distinct|-sized and
    each branch scans exactly one parquet column — at 100 TB the six
    branches are six column-pruned scans with combine-reduced
    exchanges, strictly less data motion than one 7x-expanded pass."""
    o = load(spark, sf_dir, "orders")
    branches = []
    for name, kind, expr in _PROFILE_COLS:
        e = F.expr(expr)
        per_val = (
            o.groupBy(name)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        mn_num = F.min(e).cast("double") if kind == "num" else F.lit(None).cast("double")
        mx_num = F.max(e).cast("double") if kind == "num" else F.lit(None).cast("double")
        mn_str = F.min(e) if kind == "str" else F.lit(None).cast("string")
        mx_str = F.max(e) if kind == "str" else F.lit(None).cast("string")
        branches.append(
            per_val.agg(
                F.sum("cnt").alias("n_rows"),
                F.sum(
                    F.when(F.col(name).isNull(), F.col("cnt")).otherwise(F.lit(0))
                ).alias("n_null"),
                F.count(F.col(name)).alias("n_distinct"),
                mn_num.alias("min_num"),
                mx_num.alias("max_num"),
                mn_str.alias("min_str"),
                mx_str.alias("max_str"),
            ).select(
                F.lit(name).alias("col_name"),
                "n_rows", "n_null", "n_distinct",
                "min_num", "max_num", "min_str", "max_str",
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


@query(
    "dq_expectations",
    # Expectation-suite audit (the Great-Expectations/dbt-test shape):
    # each rule is a tiny aggregate or anti-join; results union into one
    # report. All counts exact int64.
    oracle="""
    SELECT 'fk_orders_custkey' AS rule, (SELECT COUNT(*) FROM orders) AS n_checked,
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (
              SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_violations
    UNION ALL
    SELECT 'fk_lineitem_orderkey', (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (
              SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'uniq_orders_orderkey', (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
    UNION ALL
    SELECT 'domain_orderstatus', (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('O','F','P'))
    UNION ALL
    SELECT 'range_lineitem_qty', (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem WHERE l_quantity NOT BETWEEN 1 AND 50)
    UNION ALL
    SELECT 'range_totalprice_positive', (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite — referential integrity, key
    uniqueness, domain and range rules, each reported as (rule,
    n_checked, n_violations). The contract-test layer a production
    warehouse runs after every load; violations > 0 gate promotion.

    Scale shape: each FK check is a LEFT ANTI join counted (Catalyst
    picks broadcast for the dim side, shuffle-hash past that); the
    uniqueness rule is count-minus-distinct in one agg; domain/range
    rules are pushed-down filter counts. Every rule reduces to one row
    before the union, so the report assembly is free."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    def one(rule: str, checked, violations) -> DataFrame:
        return (
            checked.crossJoin(violations)
            .select(
                F.lit(rule).alias("rule"),
                F.col("n_checked"),
                F.col("n_violations"),
            )
        )

    n_o = o.agg(F.count(F.lit(1)).alias("n_checked"))
    n_l = li.agg(F.count(F.lit(1)).alias("n_checked"))
    fk_o = one(
        "fk_orders_custkey",
        n_o,
        o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
            F.count(F.lit(1)).alias("n_violations")
        ),
    )
    fk_l = one(
        "fk_lineitem_orderkey",
        n_l,
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
            F.count(F.lit(1)).alias("n_violations")
        ),
    )
    uniq = one(
        "uniq_orders_orderkey",
        n_o,
        o.agg(
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
                "n_violations"
            )
        ),
    )
    domain = one(
        "domain_orderstatus",
        n_o,
        o.agg(
            F.count(
                F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
            ).alias("n_violations")
        ),
    )
    rng_q = one(
        "range_lineitem_qty",
        n_l,
        li.agg(
            F.count(
                F.when(~F.col("l_quantity").between(1, 50), 1)
            ).alias("n_violations")
        ),
    )
    rng_p = one(
        "range_totalprice_positive",
        n_o,
        o.agg(
            F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
                "n_violations"
            )
        ),
    )
    out = fk_o
    for df in (fk_l, uniq, domain, rng_q, rng_p):
        out = out.unionByName(df)
    return out


_SCD2_BATCH_DATE = "2024-06-01"
_SCD2_BASE_DATE = "2024-01-01"


@query(
    "sink_scd2",
    # Slowly-changing-dimension type 2 merge: incoming batch = customers
    # with custkey % 10 = 0 at acctbal + 100. Changed keys close their
    # current row at the batch date and open a new current version;
    # unchanged keys pass through. One row per surviving version.
    oracle=f"""
    WITH incoming AS (
      SELECT c_custkey, c_acctbal + 100 AS new_bal FROM customer
      WHERE c_custkey % 10 = 0
    )
    SELECT c.c_custkey, c.c_acctbal,
           '{_SCD2_BASE_DATE}' AS valid_from,
           CASE WHEN i.c_custkey IS NULL THEN CAST(NULL AS VARCHAR)
                ELSE '{_SCD2_BATCH_DATE}' END AS valid_to,
           i.c_custkey IS NULL AS is_current
    FROM customer c LEFT JOIN incoming i ON c.c_custkey = i.c_custkey
    UNION ALL
    SELECT c_custkey, new_bal, '{_SCD2_BATCH_DATE}',
           CAST(NULL AS VARCHAR), TRUE
    FROM incoming
    """,
)
def sink_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension merge — the warehouse history-keeping
    primitive: an incoming change batch closes each changed key's
    current version (valid_to = batch date, is_current = false) and
    opens a new current one; unchanged keys pass through untouched. The
    merged dimension round-trips through a parquet sink partitioned by
    is_current (current-version reads prune to one partition — the
    access pattern that matters, since 99% of queries want only current
    rows while history stays cheap and append-only).

    Scale shape: the change batch is the small side — its key set drives
    one join against the dimension (broadcast until it outgrows the
    threshold, then shuffle-hash on the key); the close/open rewrite is
    two narrow projections + union, never a row-by-row merge loop."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    incoming = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 100).alias("new_bal")
    )
    merged = (
        c.join(
            incoming.select(F.col("c_custkey").alias("k")),
            c.c_custkey == F.col("k"),
            "left",
        )
        .select(
            "c_custkey",
            "c_acctbal",
            F.lit(_SCD2_BASE_DATE).alias("valid_from"),
            F.when(
                F.col("k").isNull(), F.lit(None).cast("string")
            ).otherwise(F.lit(_SCD2_BATCH_DATE)).alias("valid_to"),
            F.col("k").isNull().alias("is_current"),
        )
        .unionByName(
            incoming.select(
                "c_custkey",
                F.col("new_bal").alias("c_acctbal"),
                F.lit(_SCD2_BATCH_DATE).alias("valid_from"),
                F.lit(None).cast("string").alias("valid_to"),
                F.lit(True).alias("is_current"),
            )
        )
    )
    out = _roundtrip_dir(sf_dir, "scd2")
    merged.write.mode("overwrite").partitionBy("is_current").parquet(out)
    back = spark.read.parquet(out)
    return back.select(
        "c_custkey", "c_acctbal", "valid_from", "valid_to",
        F.col("is_current").cast("boolean").alias("is_current"),
    )


@query(
    "sink_cdc_apply",
    # CDC apply = log compaction (latest-wins per key over the change
    # sequence) + MERGE into the snapshot: deletes drop keys, updates
    # override in place, inserts add. The synthetic log derives
    # deterministically from the dimension: two sequenced updates for
    # custkey%10=0 (latest wins), deletes for %13=0 (deletes beat the
    # updates via higher seq), inserts at key+100000 for %97=0.
    oracle="""
    WITH log AS (
      SELECT c_custkey AS k, 1 AS seq, 'U' AS op, c_acctbal + 50 AS bal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, 2, 'U', c_acctbal + 75
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, 3, 'D', CAST(NULL AS DOUBLE)
      FROM customer WHERE c_custkey % 13 = 0
      UNION ALL
      SELECT c_custkey + 100000, 4, 'I', 1000.0
      FROM customer WHERE c_custkey % 97 = 0
    ),
    latest AS (
      SELECT k, op, bal FROM (
        SELECT k, op, bal,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM log
      ) WHERE rn = 1
    )
    SELECT c.c_custkey, c.c_acctbal AS acctbal, 'kept' AS change
    FROM customer c LEFT JOIN latest l ON c.c_custkey = l.k
    WHERE l.k IS NULL
    UNION ALL
    SELECT c.c_custkey, l.bal, 'updated'
    FROM customer c JOIN latest l ON c.c_custkey = l.k AND l.op = 'U'
    UNION ALL
    SELECT l.k, l.bal, 'inserted' FROM latest l
    WHERE l.op = 'I' AND NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = l.k)
    """,
)
def sink_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log apply — the batch MERGE INTO primitive: compact a
    sequenced change log to latest-wins per key (the Debezium/Kafka
    compaction step), then merge into the snapshot — deletes drop keys,
    updates override, inserts append. A key carrying updates AND a later
    delete correctly vanishes; two sequenced updates resolve to the
    newest.

    Scale shape: compaction is one window (rank by seq desc) over the
    log partitioned by key — the log shuffles once and is typically tiny
    vs the snapshot; the merge itself is one join of snapshot x compacted
    log (broadcast while the day's changes fit, shuffle-hash on the key
    past that) plus an insert anti-join, never a row-wise upsert loop."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    log = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            F.col("c_custkey").alias("k"), F.lit(1).alias("seq"),
            F.lit("U").alias("op"), (F.col("c_acctbal") + 50).alias("bal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 10 == 0).select(
                F.col("c_custkey").alias("k"), F.lit(2).alias("seq"),
                F.lit("U").alias("op"), (F.col("c_acctbal") + 75).alias("bal"),
            )
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                F.col("c_custkey").alias("k"), F.lit(3).alias("seq"),
                F.lit("D").alias("op"), F.lit(None).cast("double").alias("bal"),
            )
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 100000).alias("k"), F.lit(4).alias("seq"),
                F.lit("I").alias("op"), F.lit(1000.0).alias("bal"),
            )
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "op", "bal")
    )
    kept = (
        c.join(F.broadcast(latest), c.c_custkey == F.col("k"), "left_anti")
        .select(
            "c_custkey", F.col("c_acctbal").alias("acctbal"),
            F.lit("kept").alias("change"),
        )
    )
    updated = (
        c.join(
            F.broadcast(latest.filter(F.col("op") == "U")),
            c.c_custkey == F.col("k"),
        )
        .select(
            "c_custkey", F.col("bal").alias("acctbal"),
            F.lit("updated").alias("change"),
        )
    )
    inserted = (
        latest.filter(F.col("op") == "I")
        .join(c, F.col("k") == c.c_custkey, "left_anti")
        .select(
            F.col("k").alias("c_custkey"), F.col("bal").alias("acctbal"),
            F.lit("inserted").alias("change"),
        )
    )
    return kept.unionByName(updated).unionByName(inserted)


@query(
    "sql_recursive_cte",
    # Recursive hierarchy flatten (Spark 4 WITH RECURSIVE — the BOM /
    # org-chart explosion SQL could not express before): a 3-level
    # region -> nation -> customer hierarchy walks down from the roots,
    # accumulating depth and '/'-joined path. Edges derive from the dim
    # tables (customers sampled custkey%50=0 to stay dim-shaped); both
    # engines run the identical fixpoint.
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT 'R' || CAST(r_regionkey AS VARCHAR) AS node,
             CAST(NULL AS VARCHAR) AS parent, r_name AS name
      FROM region
      UNION ALL
      SELECT 'N' || CAST(n_nationkey AS VARCHAR),
             'R' || CAST(n_regionkey AS VARCHAR), n_name
      FROM nation
      UNION ALL
      SELECT 'C' || CAST(c_custkey AS VARCHAR),
             'N' || CAST(c_nationkey AS VARCHAR), c_name
      FROM customer WHERE c_custkey % 50 = 0
    ),
    walk(node, root, depth, path) AS (
      SELECT node, node, 0, name
      FROM edges WHERE parent IS NULL
      UNION ALL
      SELECT e.node, w.root, w.depth + 1, w.path || '/' || e.name
      FROM walk w JOIN edges e ON e.parent = w.node
    )
    SELECT node, root, CAST(depth AS INT) AS depth, path FROM walk
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE hierarchy explosion (WITH RECURSIVE, new SQL
    surface in Spark 4): flattens the region→nation→customer tree from
    its adjacency list, emitting (node, root, depth, materialized
    path) — the BOM-explosion / org-chart / account-rollup query class
    that previously required the iterative-DataFrame loop graph_bfs_khop
    hand-rolls.

    Scale shape: each fixpoint iteration is one equi-join of the
    frontier against the edge table — identical physical work to the
    checkpointed loops in graph.py, but planned by Catalyst from
    declarative SQL. Depth is bounded by the hierarchy (3 here);
    frontier rows only ever shuffle on the join key. For deep/cyclic
    graphs the imperative loop with localCheckpoint stays preferable
    (documented in graph.py); for warehouse-dim hierarchies this is
    the idiomatic form."""
    _reg_views(spark, sf_dir, "region", "nation", "customer")
    return spark.sql(
        """
        WITH RECURSIVE walk(node, root, depth, path) AS (
          SELECT node, node AS root, 0 AS depth, name AS path
          FROM (
            SELECT 'R' || CAST(r_regionkey AS STRING) AS node,
                   CAST(NULL AS STRING) AS parent, r_name AS name
            FROM ips_region
          ) WHERE parent IS NULL
          UNION ALL
          SELECT e.node, w.root, w.depth + 1, w.path || '/' || e.name
          FROM walk w
          JOIN (
            SELECT 'N' || CAST(n_nationkey AS STRING) AS node,
                   'R' || CAST(n_regionkey AS STRING) AS parent,
                   n_name AS name
            FROM ips_nation
            UNION ALL
            SELECT 'C' || CAST(c_custkey AS STRING),
                   'N' || CAST(c_nationkey AS STRING), c_name
            FROM ips_customer WHERE c_custkey % 50 = 0
          ) e ON e.parent = w.node
        )
        SELECT node, root, CAST(depth AS INT) AS depth, path FROM walk
        """
    )


@query(
    "dq_impute",
    # Median imputation — the repair step after dq_expectations flags
    # gaps: a deterministic 10% of events (md5 bucket 0) plays the
    # missing-value role; imputation fills from the BROADCAST per-type
    # exact median of the surviving values (boundary-broadcast posture,
    # never a per-row correlated subquery). Cents exact int64; the
    # interpolated median is a double of exact halves, identical in
    # both engines.
    oracle="""
    WITH flagged AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 10 = 0 AS is_missing
      FROM events),
    med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS m
      FROM flagged WHERE NOT is_missing GROUP BY event_type)
    SELECT f.event_id, f.event_type, f.is_missing,
           CAST(CASE WHEN f.is_missing THEN ROUND(med.m, 9)
                     ELSE CAST(f.cents AS DOUBLE) END AS DOUBLE)
             AS cents_imputed
    FROM flagged f JOIN med ON f.event_type = med.event_type
    """,
)
def dq_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value repair by group median — the imputation stage that
    follows dq_expectations' detection: rows flagged missing (a
    deterministic md5 bucket stands in for real nulls — the fixture has
    none) are filled with their event_type's exact median of the
    observed values, everything else passes through, and the flag is
    kept so downstream consumers can weight or audit imputed rows.

    Scale shape: one hash agg builds the ≤|types|-row median table,
    which BROADCASTS back onto the fact (the boundary-broadcast posture
    of agg_rfm_segments/agg_histogram_equidepth) — never a correlated
    per-row subquery, never a window over the fact. At corpus scale
    swap the exact median for percentile_approx, same degrade note as
    agg_percentile."""
    e = load(spark, sf_dir, "events")
    flagged = e.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        (hex_int(F.md5(F.col("event_id").cast("string")), 4) % 10 == 0).alias(
            "is_missing"
        ),
    )
    med = (
        flagged.filter(~F.col("is_missing"))
        .groupBy("event_type")
        .agg(F.percentile("cents", F.lit(0.5)).alias("m"))
    )
    return flagged.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "is_missing",
        F.when(F.col("is_missing"), F.round(F.col("m"), 9))
        .otherwise(F.col("cents").cast("double"))
        .cast("double")
        .alias("cents_imputed"),
    )


@query(
    "dq_freshness",
    # Data-freshness monitor per event_type: staleness of the latest
    # record vs the table's global max timestamp (the deterministic
    # "now" anchor), trailing-24h/7d arrival counts against the
    # series' own daily average, and a stale flag at the 24h SLA.
    # All time math on exact int64 epoch seconds (floored identically
    # in both engines); the ratio cross-multiplies exact ints before
    # ONE 9dp division.
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
      FROM events),
    anchor AS (SELECT MAX(es) AS a FROM e),
    g AS (
      SELECT e.event_type,
             CAST(MAX(e.es) AS BIGINT) AS last_es,
             CAST(COUNT(*) AS BIGINT) AS total_n,
             CAST(SUM(CASE WHEN e.es > x.a - 86400 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_last_day,
             CAST(SUM(CASE WHEN e.es > x.a - 604800 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_last_week,
             CAST((MAX(e.es) - MIN(e.es)) // 86400 + 1 AS BIGINT)
               AS span_days,
             CAST(MIN(x.a) AS BIGINT) AS a
      FROM e CROSS JOIN anchor x GROUP BY e.event_type)
    SELECT event_type,
           CAST((a - last_es) // 60 AS BIGINT) AS staleness_min,
           n_last_day, n_last_week,
           CAST(ROUND(total_n * 1.0 / span_days, 9) AS DOUBLE) AS daily_avg,
           CAST(ROUND(n_last_day * 1.0 * span_days / total_n, 9) AS DOUBLE)
             AS freshness_ratio,
           (a - last_es) > 86400 AS is_stale
    FROM g
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness / arrival-rate monitor per event_type — the data-
    quality check every ingestion pipeline runs before trusting a
    partition: how stale is the newest record (vs the table's own max
    timestamp, a deterministic 'now'), how do trailing-24h/7d arrival
    counts compare to the series' lifetime daily average
    (freshness_ratio < 1 = arrivals slowing), and a 24h-SLA stale
    flag. Sits beside dq_expectations (values) and profile_table
    (shape) as the TIME dimension of data quality.

    Scale shape: ONE map-side-combinable hash agg over the fact (all
    trailing-window counts are conditional sums against a broadcast
    scalar anchor — no window functions, no second scan); everything
    after is per-type arithmetic on exact int64 epoch seconds. At 10⁹
    events this is a single agg + broadcast join."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("es"),
    )
    anchor = e.agg(F.max("es").alias("a"))
    g = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("event_type")
        .agg(
            F.max("es").cast("bigint").alias("last_es"),
            F.count(F.lit(1)).cast("bigint").alias("total_n"),
            F.sum(F.when(F.col("es") > F.col("a") - 86400, 1).otherwise(0))
            .cast("bigint")
            .alias("n_last_day"),
            F.sum(F.when(F.col("es") > F.col("a") - 604800, 1).otherwise(0))
            .cast("bigint")
            .alias("n_last_week"),
            (
                F.expr("(max(es) - min(es)) div 86400") + 1
            )
            .cast("bigint")
            .alias("span_days"),
            F.min("a").cast("bigint").alias("a"),
        )
    )
    return g.select(
        "event_type",
        F.expr("(a - last_es) div 60").cast("bigint").alias("staleness_min"),
        "n_last_day",
        "n_last_week",
        F.round(F.col("total_n") / F.col("span_days"), 9)
        .cast("double")
        .alias("daily_avg"),
        F.round(F.col("n_last_day") * F.col("span_days") / F.col("total_n"), 9)
        .cast("double")
        .alias("freshness_ratio"),
        ((F.col("a") - F.col("last_es")) > 86400).alias("is_stale"),
    )


@query(
    "dq_referential_integrity",
    # Referential-integrity audit across the star schema's FK edges
    # (orders.custkey -> customer, lineitem.orderkey -> orders,
    # lineitem.partkey -> part, lineitem.suppkey -> supplier): per edge,
    # child rows / orphan rows (LEFT ANTI semantics via a null-extended
    # join) / distinct orphan keys, plus parent coverage (share of
    # parent keys referenced at all). All exact integer counts; the two
    # ratios are single 9dp divisions.
    oracle="""
    WITH edges AS (
      SELECT 'orders.custkey->customer' AS fk_edge,
             (SELECT COUNT(*) FROM orders) AS n_child,
             (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
                ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
               AS n_orphan,
             (SELECT COUNT(DISTINCT o_custkey) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey))
               AS n_orphan_keys,
             (SELECT COUNT(*) FROM customer) AS n_parent,
             (SELECT COUNT(DISTINCT o_custkey) FROM orders o
               WHERE EXISTS (SELECT 1 FROM customer c
                             WHERE c.c_custkey = o.o_custkey))
               AS n_parent_used
      UNION ALL
      SELECT 'lineitem.orderkey->orders',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
                ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL),
             (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey)),
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem l
               WHERE EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'lineitem.partkey->part',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p
                ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL),
             (SELECT COUNT(DISTINCT l_partkey) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM part p
                                 WHERE p.p_partkey = l.l_partkey)),
             (SELECT COUNT(*) FROM part),
             (SELECT COUNT(DISTINCT l_partkey) FROM lineitem l
               WHERE EXISTS (SELECT 1 FROM part p
                             WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'lineitem.suppkey->supplier',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l LEFT JOIN supplier s
                ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL),
             (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                 WHERE s.s_suppkey = l.l_suppkey)),
             (SELECT COUNT(*) FROM supplier),
             (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem l
               WHERE EXISTS (SELECT 1 FROM supplier s
                             WHERE s.s_suppkey = l.l_suppkey)))
    SELECT fk_edge,
           CAST(n_child AS BIGINT) AS n_child,
           CAST(n_orphan AS BIGINT) AS n_orphan,
           CAST(n_orphan_keys AS BIGINT) AS n_orphan_keys,
           CAST(ROUND(n_orphan * 1.0 / n_child, 9) AS DOUBLE)
             AS orphan_ratio,
           CAST(ROUND(n_parent_used * 1.0 / n_parent, 9) AS DOUBLE)
             AS parent_coverage
    FROM edges
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema's four FK edges
    — the first data-quality gate a warehouse load runs (and the one
    that decides whether downstream joins silently drop rows): per
    edge, orphan child rows (FK values with no parent), distinct orphan
    keys, the orphan ratio, and parent coverage (share of parent keys
    actually referenced — low coverage flags over-provisioned dims).
    Completes the dq family: values (dq_expectations), shape
    (profile_table), time (dq_freshness), now LINKS.

    Scale shape (r13 rework): each edge is ONE LEFT OUTER join on the
    FK key (parents are PK-unique, so outer-join output rows == child
    rows) feeding ONE aggregate that reads orphan mass, orphan keys and
    referenced-parent keys off the matched/null split — the r7-r12 form
    ran three separate join subtrees per edge (LEFT ANTI + LEFT SEMI +
    raw stats), scanning the child table three times per edge (the
    lineitem fact 9x across its three edges). Dimension-sized parents
    broadcast, the single fact-sized parent (orders) takes a standard
    shuffled equi-join; counts are map-side-combinable. No window, no
    sort, nothing quadratic. The four per-edge result rows union."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    p = load(spark, sf_dir, "part").select("p_partkey")
    su = load(spark, sf_dir, "supplier").select("s_suppkey")

    def edge(name, child, fk, parent, pk, broadcast_parent):
        # child collapses to (fk, occurrence count) BEFORE the join —
        # map-side combinable, so the join and everything after it see
        # only DISTINCT FK values, never fact rows (and the per-key
        # grain makes every distinct-key stat a plain filtered count —
        # no multi-distinct Expand anywhere)
        ck = child.groupBy(child[fk].alias("fk")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        par = F.broadcast(parent) if broadcast_parent else parent
        joined = ck.join(par, ck["fk"] == parent[pk], "left_outer")
        matched = parent[pk].isNotNull()
        stats = (
            joined.agg(
                F.sum("cnt").cast("bigint").alias("n_child"),
                F.sum(F.when(~matched, F.col("cnt")).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("n_orphan"),
                F.count(F.when(~matched & F.col("fk").isNotNull(), 1))
                .cast("bigint")
                .alias("n_orphan_keys"),
                F.count(F.when(matched, 1))
                .cast("bigint")
                .alias("n_parent_used"),
            )
            .crossJoin(
                parent.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_parent")
                )
            )
        )
        return stats.select(
            F.lit(name).alias("fk_edge"),
            "n_child",
            "n_orphan",
            "n_orphan_keys",
            F.round(F.col("n_orphan") / F.col("n_child"), 9)
            .cast("double")
            .alias("orphan_ratio"),
            F.round(F.col("n_parent_used") / F.col("n_parent"), 9)
            .cast("double")
            .alias("parent_coverage"),
        )

    return (
        edge("orders.custkey->customer", o, "o_custkey", c, "c_custkey", False)
        .unionByName(
            edge("lineitem.orderkey->orders", li, "l_orderkey",
                 o.select("o_orderkey"), "o_orderkey", False)
        )
        .unionByName(
            edge("lineitem.partkey->part", li, "l_partkey", p, "p_partkey",
                 True)
        )
        .unionByName(
            edge("lineitem.suppkey->supplier", li, "l_suppkey", su,
                 "s_suppkey", True)
        )
    )


# Candidate FD pairs audited by dq_fd_discovery: (table, lhs, rhs).
# A fixed, data-independent candidate list (profiling tools enumerate
# lhs/rhs pairs the same way; the quadratic column-pair blowup is the
# caller's dial, not the engine's).
_FD_CANDIDATES = (
    ("customer", "c_custkey", "c_name"),
    ("customer", "c_name", "c_custkey"),
    ("customer", "c_mktsegment", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("documents", "doc_id", "lang"),
    ("documents", "source", "lang"),
    ("documents", "lang", "source"),
)


@query(
    "dq_fd_discovery",
    # Functional-dependency discovery (Metanome/TANE's decision rule at
    # audit granularity): A -> B holds on the data iff
    # COUNT(DISTINCT A) = COUNT(DISTINCT A, B); the violation mass is
    # their difference (extra (A,B) combinations beyond one-per-A).
    # Pure integer counts, exact in both engines.
    oracle="""
    """ + "\n    UNION ALL\n    ".join(
        f"""SELECT '{t}' AS tbl, '{a}' AS lhs, '{b}' AS rhs,
           CAST(COUNT(DISTINCT {a}) AS BIGINT) AS n_lhs,
           CAST(COUNT(DISTINCT ({a}, {b})) AS BIGINT) AS n_pairs,
           COUNT(DISTINCT {a}) = COUNT(DISTINCT ({a}, {b})) AS holds,
           CAST(COUNT(DISTINCT ({a}, {b})) - COUNT(DISTINCT {a}) AS BIGINT)
             AS n_violating
    FROM {t}"""
        for t, a, b in _FD_CANDIDATES
    ),
)
def dq_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — the schema-knowledge stage of the
    data-quality family (profile_table counts columns; this finds the
    RULES between them, the TANE/Metanome decision at audit
    granularity): A -> B holds exactly when every A value maps to one B
    value, i.e. COUNT(DISTINCT A) = COUNT(DISTINCT (A, B)); the
    violation mass (extra pairings) is their difference. Discovered
    FDs drive key inference, normalization, and dq_expectations rules.

    The candidate list is fixed and data-independent (7 pairs over two
    tables); each candidate costs one two-distinct aggregate — at 10^12
    rows swap exact distincts for HLL sketches pairwise
    (approx_count_distinct, the agg_approx_distinct posture) and keep
    the same decision rule with a documented error band. Pure integer
    counts; the verdict is an exact integer comparison."""
    parts = []
    for t, a, b in _FD_CANDIDATES:
        df = load(spark, sf_dir, t)
        parts.append(
            df.agg(
                F.count_distinct(F.col(a)).cast("bigint").alias("n_lhs"),
                # struct-wrapped: count_distinct(a, b) DROPS rows where
                # either column is NULL, while DuckDB's
                # COUNT(DISTINCT (a, b)) counts NULL-bearing pairs — the
                # struct is never NULL, so both engines agree even on a
                # future NULL-bearing fixture (review finding, r8).
                F.count_distinct(F.struct(F.col(a), F.col(b)))
                .cast("bigint")
                .alias("n_pairs"),
            ).select(
                F.lit(t).alias("tbl"),
                F.lit(a).alias("lhs"),
                F.lit(b).alias("rhs"),
                "n_lhs",
                "n_pairs",
                (F.col("n_lhs") == F.col("n_pairs")).alias("holds"),
                (F.col("n_pairs") - F.col("n_lhs"))
                .cast("bigint")
                .alias("n_violating"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "sample_balanced_classes",
    # Class-balanced downsampling to the minority class (the training-
    # set rebalancer before classifier fitting): per-lang keep rate =
    # min_class_count/class_count, applied as an EXACT integer
    # threshold test on a 48-bit md5 uniform — u*count < min_count
    # cross-multiplied to u48*count < min_count*2^48, pure int64 —
    # deterministic, no RNG, stable under resharding; the tiny class-
    # count table broadcasts back.
    oracle="""
    WITH cls AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
      GROUP BY lang),
    mn AS (SELECT MIN(n) AS m FROM cls),
    keep AS (
      SELECT d.doc_id, d.lang, cls.n, mn.m,
             CAST(('0x' || substr(md5('bal:' || CAST(d.doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS u48
      FROM documents d JOIN cls ON d.lang = cls.lang CROSS JOIN mn)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MAX(n) AS BIGINT) AS n_class,
           CAST(MAX(m) AS BIGINT) AS n_minority
    FROM keep
    WHERE CAST(u48 AS HUGEINT) * n < CAST(m AS HUGEINT) * 281474976710656
    GROUP BY lang
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling — equalize per-language document
    counts to (approximately) the minority class before classifier
    training (the imbalance fix that beats class weights when the
    majority class is redundant anyway, which web corpora always are):
    keep rate per class = min_count/count, decided per doc by an EXACT
    integer comparison u48*count < min_count*2^48 on a 48-bit md5
    uniform — no float probability, no RNG state, identical keep set
    at any parallelism and in both engines.

    Scale shape: one tiny class-count agg broadcasts back into the
    scan (boundary-broadcast posture); the filter is in-row; one
    count agg reports. Expected kept per class = min_count +-
    binomial noise; exact-count variants (rank windows) cost a sort —
    documented trade, this is the streaming-friendly form."""
    d = load(spark, sf_dir, "documents")
    cls = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    mn = cls.agg(F.min("n").alias("m"))
    u48 = hex_int(F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))), 12)
    keep = (
        d.join(F.broadcast(cls), "lang")
        .crossJoin(F.broadcast(mn))
        .withColumn("u48", u48)
        # decimal compare: u48*n and m*2^48 pass int64 once classes
        # reach ~3e4 docs (2^48 * n overflow); HUGEINT on the oracle side
        .filter(
            F.col("u48").cast("decimal(38,0)") * F.col("n")
            < F.col("m").cast("decimal(38,0)") * F.lit(2**48)
        )
    )
    return keep.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.max("n").cast("bigint").alias("n_class"),
        F.max("m").cast("bigint").alias("n_minority"),
    )


# Declared data contract for the events table: (column, type, nullable,
# lo, hi). Range rows with NULL bounds check presence/type only. The
# contract is the fixture; CHECKING it is the operator.
_CONTRACT_EVENTS = (
    ("event_id", "bigint", False, 0, None),
    ("ts", "timestamp", False, None, None),
    ("user_id", "bigint", False, 0, None),
    ("event_type", "string", False, None, None),
    ("value", "double", False, 0.0, 100000.0),
    ("props", "string", True, None, None),
)


@query(
    "dq_schema_contract",
    # Data-contract check (the CI-for-data stage before any pipeline
    # consumes a table): per declared column — does it exist, does the
    # physical type match, are there nulls where the contract forbids
    # them, do values sit inside the declared range. Schema facts are
    # plan-time constants (each engine introspects its own catalog —
    # Spark's StructType here, DuckDB's information_schema in the
    # oracle, normalized to a shared type vocabulary); null/range
    # violations are exact integer counts from ONE scan.
    oracle="""
    WITH obs AS (
      SELECT LOWER(column_name) AS col,
             CASE WHEN LOWER(column_type) LIKE '%int%' THEN 'bigint'
                  WHEN LOWER(column_type) IN ('double', 'float8') THEN 'double'
                  WHEN LOWER(column_type) LIKE 'timestamp%' THEN 'timestamp'
                  ELSE 'string' END AS typ
      FROM (DESCRIBE SELECT * FROM events)),
    decl AS (
      SELECT * FROM (VALUES
        ('event_id', 'bigint', FALSE), ('ts', 'timestamp', FALSE),
        ('user_id', 'bigint', FALSE), ('event_type', 'string', FALSE),
        ('value', 'double', FALSE), ('props', 'string', TRUE))
        AS t(col, typ, nullable)),
    nulls AS (
      SELECT
        CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_event_id,
        CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
        CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_user_id,
        CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_event_type,
        CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_value,
        CAST(SUM(CASE WHEN event_id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS r_event_id,
        CAST(SUM(CASE WHEN user_id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS r_user_id,
        CAST(SUM(CASE WHEN value < 0.0 OR value > 100000.0 THEN 1 ELSE 0 END) AS BIGINT) AS r_value
      FROM events)
    SELECT d.col AS column_name, d.typ AS declared_type,
           COALESCE(o.typ, '<missing>') AS observed_type,
           (o.col IS NOT NULL AND o.typ = d.typ) AS type_ok,
           CAST(CASE d.col WHEN 'event_id' THEN n.n_event_id
                WHEN 'ts' THEN n.n_ts WHEN 'user_id' THEN n.n_user_id
                WHEN 'event_type' THEN n.n_event_type
                WHEN 'value' THEN n.n_value ELSE 0 END AS BIGINT)
             AS n_null_violations,
           CAST(CASE d.col WHEN 'event_id' THEN n.r_event_id
                WHEN 'user_id' THEN n.r_user_id
                WHEN 'value' THEN n.r_value ELSE 0 END AS BIGINT)
             AS n_range_violations,
           ((o.col IS NOT NULL AND o.typ = d.typ)
            AND (d.nullable OR CASE d.col WHEN 'event_id' THEN n.n_event_id
                 WHEN 'ts' THEN n.n_ts WHEN 'user_id' THEN n.n_user_id
                 WHEN 'event_type' THEN n.n_event_type
                 WHEN 'value' THEN n.n_value ELSE 0 END = 0)
            AND CASE d.col WHEN 'event_id' THEN n.r_event_id
                WHEN 'user_id' THEN n.r_user_id
                WHEN 'value' THEN n.r_value ELSE 0 END = 0) AS contract_ok
    FROM decl d LEFT JOIN obs o ON d.col = o.col CROSS JOIN nulls n
    """,
)
def dq_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract enforcement — the CI-for-data check every
    producer/consumer boundary needs (dbt tests / Great Expectations
    suites compile to exactly this): per declared column, verify
    existence, physical type, nullability, and value range in ONE
    table scan. Schema facts come from each engine's OWN catalog
    introspection (Spark's StructType at plan time; DuckDB's DESCRIBE
    in the oracle) normalized to a shared type vocabulary — so a
    silently widened or dropped column fails the contract in both
    engines identically, which is the point.

    Scale shape: type/existence checks are plan-time constants; the
    null/range counts are one map-side-combinable agg over the scan —
    contract checking at 10^12 rows costs one pass, and partition-
    incremental deployments run it per new partition."""
    e = load(spark, sf_dir, "events")
    obs = {
        f.name.lower(): (
            "bigint"
            if f.dataType.simpleString() in ("bigint", "int", "long")
            else "double"
            if f.dataType.simpleString() == "double"
            else "timestamp"
            if f.dataType.simpleString().startswith("timestamp")
            else "string"
        )
        for f in e.schema.fields
    }
    nulls = e.agg(
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{c}")
            for c, _t, _n, _lo, _hi in _CONTRACT_EVENTS
            if c != "props"
        ],
        F.sum(F.when(F.col("event_id") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("r_event_id"),
        F.sum(F.when(F.col("user_id") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("r_user_id"),
        F.sum(
            F.when((F.col("value") < 0.0) | (F.col("value") > 100000.0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("r_value"),
    )
    parts = []
    for col, typ, nullable, _lo, _hi in _CONTRACT_EVENTS:
        otyp = obs.get(col, "<missing>")
        type_ok = otyp == typ
        nullcol = (
            F.col(f"n_{col}") if col != "props" else F.lit(0).cast("bigint")
        )
        rangecol = (
            F.col(f"r_{col}")
            if col in ("event_id", "user_id", "value")
            else F.lit(0).cast("bigint")
        )
        parts.append(
            nulls.select(
                F.lit(col).alias("column_name"),
                F.lit(typ).alias("declared_type"),
                F.lit(otyp).alias("observed_type"),
                F.lit(type_ok).alias("type_ok"),
                nullcol.alias("n_null_violations"),
                rangecol.alias("n_range_violations"),
                (
                    F.lit(type_ok)
                    & (F.lit(nullable) | (nullcol == 0))
                    & (rangecol == 0)
                ).alias("contract_ok"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "scan_text_fixed_width",
    # Fixed-width (COBOL-copybook-style) ingest: rows serialize to a
    # 53-char record via deterministic padding, then EVERYTHING is
    # re-parsed from the record by declared (offset, length) substrings
    # — the parse is the thing under test (construct-then-parse, the
    # scan_text_parse pattern). Trailing-space/zero-pad round trips,
    # sign-flag decoding, and integer cents are verified per row.
    oracle="""
    WITH rec AS (
      SELECT c_custkey,
             lpad(CAST(c_custkey AS VARCHAR), 10, '0')
             || rpad(c_name, 18, ' ')
             || lpad(CAST(c_nationkey AS VARCHAR), 3, '0')
             || (CASE WHEN c_acctbal < 0 THEN '1' ELSE '0' END)
             || lpad(CAST(CAST(round(abs(c_acctbal) * 100, 0) AS BIGINT)
                     AS VARCHAR), 11, '0')
             || rpad(c_mktsegment, 10, ' ') AS line
      FROM customer)
    SELECT CAST(substr(line, 1, 10) AS BIGINT) AS custkey,
           rtrim(substr(line, 11, 18)) AS name,
           CAST(substr(line, 29, 3) AS BIGINT) AS nation,
           CAST(ROUND((CASE WHEN substr(line, 32, 1) = '1' THEN -1 ELSE 1 END)
             * CAST(substr(line, 33, 11) AS BIGINT) / 100.0, 2) AS DOUBLE)
             AS acctbal,
           rtrim(substr(line, 44, 10)) AS segment,
           length(line) AS record_len
    FROM rec
    """,
)
def scan_text_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width record ingest — the COBOL-copybook/mainframe-export
    format every enterprise migration still meets (no delimiters; the
    layout IS the schema): records serialize with deterministic
    padding (zero-pad numerics, space-pad strings, an explicit sign
    flag digit — negatives cannot zero-pad through lpad), then every
    field re-parses from the 53-char line by declared (offset, length)
    substrings. The parse is what's under test; round-tripping pins
    padding, trimming, sign decoding, and integer cents.

    Scale shape: pure zero-shuffle in-row string work at scan speed —
    at 10^12 records this IS the mapper of a mainframe offload, and
    the declared-offset substring plan is whole-stage-codegen'd."""
    c = load(spark, sf_dir, "customer")
    line = F.concat(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0"),
        F.rpad(F.col("c_name"), 18, " "),
        F.lpad(F.col("c_nationkey").cast("string"), 3, "0"),
        F.when(F.col("c_acctbal") < 0, "1").otherwise("0"),
        F.lpad(
            F.expr("CAST(ROUND(abs(c_acctbal) * 100, 0) AS BIGINT)").cast(
                "string"
            ),
            11,
            "0",
        ),
        F.rpad(F.col("c_mktsegment"), 10, " "),
    )
    rec = c.select(line.alias("line"))
    sign = F.when(F.substring("line", 32, 1) == "1", -1).otherwise(1)
    return rec.select(
        F.substring("line", 1, 10).cast("bigint").alias("custkey"),
        F.rtrim(F.substring("line", 11, 18)).alias("name"),
        F.substring("line", 29, 3).cast("bigint").alias("nation"),
        F.round(
            sign * F.substring("line", 33, 11).cast("bigint") / 100.0, 2
        )
        .cast("double")
        .alias("acctbal"),
        F.rtrim(F.substring("line", 44, 10)).alias("segment"),
        F.length("line").cast("int").alias("record_len"),
    )
