"""Scalar function battery (SURVEY §2.7): string / regex / date / math /
array / map / json / hash.

Reference parity: patent-number normalization and grant-date bucketing
are string/date function chains (SURVEY §0.1 step 2, [PK-M]); arrays and
JSON cover the metadata-bag fields.

All JVM-side built-ins — no Python in the hot path; every expression
stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..sources.tables import load
from .stable import round_dp, tokens


@query(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS seg_lower,
           TRIM(c_name) AS name_trim,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           CONCAT_WS('|', c_name, c_mktsegment) AS name_seg,
           LENGTH(c_name) AS name_len,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           REPLACE(c_name, '#', '-') AS name_dash,
           INSTR(c_name, '0') AS first_zero_pos,
           SPLIT_PART(c_name, '#', 1) AS name_head
    FROM customer
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String battery (patent-number normalization analog)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.trim("c_name").alias("name_trim"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("name_seg"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dash"),
        F.instr(F.col("c_name"), "0").cast("bigint").alias("first_zero_pos"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_head"),
    )


@query(
    "fn_regex",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           regexp_replace(c_name, '[0-9]', 'X', 'g') AS masked,
           regexp_matches(c_name, '[0-9]{2}') AS has_2digits
    FROM customer
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.regexp_replace("c_name", "[0-9]", "X").alias("masked"),
        F.col("c_name").rlike("[0-9]{2}").alias("has_2digits"),
    )


@query(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
           CAST(MONTH(o_orderdate) AS INTEGER) AS mo,
           CAST(DAY(o_orderdate) AS INTEGER) AS dy,
           CAST(HOUR(o_orderdate) AS INTEGER) AS hr,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INTEGER) AS days_since_95,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_sec
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime battery over TIMESTAMP_NTZ (grant-date bucketing analog).
    All functions operate on NTZ directly -> timezone-independent."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.hour("o_orderdate").alias("hr"),
        F.date_trunc("month", "o_orderdate").cast("timestamp_ntz").alias("month_start"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("days_since_95"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
        F.last_day(F.col("o_orderdate").cast("date")).cast("string").alias("month_end"),
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 1000000"
        ).alias("epoch_sec"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(l_extendedprice, 1) AS DOUBLE) AS price_round,
           CAST(FLOOR(l_extendedprice) AS DOUBLE) AS price_floor,
           CAST(CEIL(l_extendedprice) AS DOUBLE) AS price_ceil,
           ABS(l_discount - 0.05) AS disc_dev,
           POW(l_quantity, 2) AS qty_sq,
           SQRT(l_quantity) AS qty_sqrt,
           CAST(ROUND(LN(l_extendedprice), 9) AS DOUBLE) AS price_ln,
           CAST(ROUND(EXP(l_discount), 9) AS DOUBLE) AS disc_exp,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
           CAST(SIGN(l_quantity - 25) AS DOUBLE) AS qty_side
    FROM lineitem WHERE l_orderkey % 13 = 0
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery. pow/sqrt are correctly-rounded IEEE ops; ln/exp are
    library-dependent in the last ulp and therefore rounded to 9dp in both
    engines (verified divergence: ~1% of rows otherwise)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 13 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        round_dp("l_extendedprice", 1).alias("price_round"),
        F.floor("l_extendedprice").cast("double").alias("price_floor"),
        F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        # transcendentals are not bit-identical across libm implementations
        # (Java Math.log vs C libm differ in the last ulp) -> round to 9dp
        round_dp(F.log(F.col("l_extendedprice"))).alias("price_ln"),
        round_dp(F.exp("l_discount")).alias("disc_exp"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.signum(F.col("l_quantity") - 25).alias("qty_side"),
    )


@query(
    "fn_array",
    oracle="""
    SELECT doc_id,
           len(tokens) AS n_tokens,
           list_contains(tokens, 'table') AS has_table,
           array_to_string(tokens[1:3], '|') AS first3,
           array_to_string(list_sort(list_distinct(tokens)), '|') AS vocab,
           array_to_string(list_transform(tokens[1:5], t -> UPPER(t)), '|') AS head_upper,
           array_to_string(list_filter(tokens, t -> LENGTH(t) > 4), '|') AS long_tokens,
           CAST(list_aggregate(list_transform(tokens, t -> LENGTH(t)), 'sum') AS BIGINT) AS total_chars
    FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + higher-order function battery over tokenized text.

    Array-valued intermediates are serialized with '|' joins before they
    reach the result: the driver's value-hash canonicalizer cannot
    hash/sort list cells (round-1 agg_collect failure)."""
    d = load(spark, sf_dir, "documents").withColumn("tokens", tokens())
    return d.select(
        "doc_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.array_contains("tokens", "table").alias("has_table"),
        F.concat_ws("|", F.slice("tokens", 1, 3)).alias("first3"),
        F.concat_ws("|", F.sort_array(F.array_distinct("tokens"))).alias("vocab"),
        F.concat_ws(
            "|", F.transform(F.slice("tokens", 1, 5), lambda t: F.upper(t))
        ).alias("head_upper"),
        F.concat_ws("|", F.filter("tokens", lambda t: F.length(t) > 4)).alias(
            "long_tokens"
        ),
        F.aggregate(
            F.transform("tokens", lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
    )


@query(
    "fn_explode",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(tokens, 1) - 1 AS INTEGER) AS pos,
           unnest(tokens) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS tokens
          FROM documents WHERE doc_id % 25 = 0)
    """,
)
def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode tokens with position (0-based in Spark; oracle shifts)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    return d.select("doc_id", F.posexplode(tokens()).alias("pos", "token"))


@query(
    "fn_map",
    oracle="""
    SELECT doc_id,
           array_to_string(map_keys(m), '|') AS ks,
           array_to_string(map_values(m), '|') AS vs,
           m['lang'][1] AS lang_val
    FROM (SELECT doc_id,
                 MAP {'lang': lang, 'source': source} AS m
          FROM documents)
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + access (metadata-bag analog). Key/value arrays
    are '|'-joined so the result is scalar-only (driver hashability)."""
    d = load(spark, sf_dir, "documents")
    m = F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source"))
    return d.select(
        "doc_id",
        F.concat_ws("|", F.map_keys(m)).alias("ks"),
        F.concat_ws("|", F.map_values(m)).alias("vs"),
        m.getItem("lang").alias("lang_val"),
    )


@query(
    "fn_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_typed,
           json_extract_string(props, '$.k') AS k_raw
    FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events.props JSON string two ways: typed via from_json
    with an explicit schema, raw via get_json_object."""
    e = load(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.LongType())])
    return e.select(
        "event_id",
        F.from_json("props", schema).getField("k").alias("k_typed"),
        F.get_json_object("props", "$.k").alias("k_raw"),
    )


@query(
    "fn_hash",
    oracle="""
    SELECT doc_id,
           md5(text) AS text_md5,
           sha256(text) AS text_sha256,
           md5(CONCAT(lang, ':', text)) AS keyed_md5
    FROM documents
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-stable content signatures (dedup keys). Spark's
    hash/xxhash64 are engine-internal and never appear in checked results
    (SURVEY §5)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("text"))).alias("keyed_md5"),
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255 AS and_lo,
           l_orderkey | 4096 AS or_hi,
           xor(l_orderkey, l_partkey) AS xored,
           l_linenumber << 4 AS shifted_l,
           l_orderkey >> 2 AS shifted_r,
           ~l_linenumber AS inverted
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise battery: AND/OR/XOR/shifts/NOT over integer keys (the bit
    tricks behind bitsets, bloom partitioning, and key packing)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("l_orderkey & 255").alias("and_lo"),
        F.expr("l_orderkey | 4096").alias("or_hi"),
        F.expr("l_orderkey ^ l_partkey").alias("xored"),
        F.expr("CAST(shiftleft(l_linenumber, 4) AS INT)").alias("shifted_l"),
        F.expr("shiftright(l_orderkey, 2)").alias("shifted_r"),
        F.expr("CAST(~l_linenumber AS INT)").alias("inverted"),
    )


@query(
    "fn_variant",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns through Spark 4's VARIANT type:
    parse_json -> binary variant -> typed variant_get extraction, then a
    plain aggregate. VARIANT keeps the parsed tree in a compact binary
    encoding (parse once, extract many — the at-scale JSON posture);
    the from_json struct path in fn_json is the fixed-schema
    alternative."""
    e = load(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("total_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


@query(
    "fn_map_hof",
    oracle="""
    SELECT event_id,
           array_to_string(list_transform(
             list_sort(list_transform(range(1, 4), i -> 'b' || CAST(i AS VARCHAR))),
             k -> k || '=' ||
                  CAST((CAST(json_extract(props, '$.k') AS BIGINT)
                        * CAST(substr(k, 2, 1) AS BIGINT)) AS VARCHAR)
           ), '|') AS scaled_entries
    FROM events WHERE event_id % 50 = 0
    """,
)
def fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: build a map {b1..b3 -> k*i} per event,
    rescale values with transform_values, emit as sorted 'key=value'
    entry strings (maps are unordered — serializing sorted entries is
    what makes the result hashable cross-engine; the oracle builds the
    same strings without a map type, which DuckDB lacks in this form)."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") % 50 == 0)
    k = F.get_json_object("props", "$.k").cast("bigint")
    m = F.map_from_arrays(
        F.array(F.lit("b1"), F.lit("b2"), F.lit("b3")),
        F.array(k, k, k),
    )
    scaled = F.transform_values(
        m, lambda key, v: v * F.substring(key, 2, 1).cast("bigint")
    )
    entries = F.transform(
        F.array_sort(F.map_keys(scaled)),
        lambda key: F.concat(key, F.lit("="), F.element_at(scaled, key).cast("string")),
    )
    return e.select("event_id", F.concat_ws("|", entries).alias("scaled_entries"))


@query(
    "fn_interval",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 90 DAY AS due_ts,
           INTERVAL 3 MONTH + o_orderdate AS quarter_later,
           CAST(date_diff('day', TIMESTAMP '1995-06-15 00:00:00', o_orderdate) AS BIGINT)
             AS days_from_pivot,
           CAST(date_diff('month',
                          CAST(date_trunc('month', TIMESTAMP '1995-06-15 00:00:00') AS TIMESTAMP),
                          CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)) AS BIGINT)
             AS months_from_pivot,
           CAST(o_orderdate - INTERVAL '36 hours' AS TIMESTAMP) AS day_and_half_before
    FROM orders WHERE o_orderkey % 1000 = 0
    """,
)
def fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic battery over order dates: day/month
    interval addition, signed day and whole-month differences from a
    pivot, sub-day interval subtraction. Whole-month diff is computed on
    month-truncated endpoints in BOTH engines (Spark's months_between
    counts fractional months, DuckDB's date_diff counts boundary
    crossings — truncation makes them agree exactly).

    DuckDB 1.0.0 BUG dodged in the oracle: two ``ts + INTERVAL``
    expressions in one SELECT are CSE-collapsed into ONE even when the
    interval constants differ (probed: ``+ INTERVAL 3 MONTH`` next to
    ``+ INTERVAL 90 DAY`` silently returns the 90-day result for both).
    Writing the month add as ``INTERVAL 3 MONTH + o_orderdate`` (interval
    on the left) breaks the false CSE match."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 1000 == 0)
    pivot = F.lit("1995-06-15").cast("timestamp_ntz")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_ts"),
        F.add_months("o_orderdate", 3).cast("timestamp_ntz").alias("quarter_later"),
        F.datediff("o_orderdate", pivot).cast("bigint").alias("days_from_pivot"),
        F.months_between(
            F.date_trunc("month", "o_orderdate"), F.date_trunc("month", pivot)
        ).cast("bigint").alias("months_from_pivot"),
        (F.col("o_orderdate") - F.expr("INTERVAL 36 HOURS")).alias(
            "day_and_half_before"
        ),
    )


@query(
    "fn_url",
    oracle="""
    SELECT doc_id, url,
           regexp_extract(url, '^([a-z]+)://', 1) AS proto,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\\?([^#]*)', 1) AS query,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param
    FROM (
      SELECT doc_id,
             'https://corpus.example.org/' || lang || '/doc/' ||
             CAST(doc_id AS VARCHAR) || '?lang=' || lang || '&src=' || source AS url
      FROM documents WHERE doc_id % 25 = 0
    )
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing battery (crawl-pipeline metadata extraction):
    protocol / host / path / query string / single query parameter via
    ``parse_url`` — JVM-side, zero shuffle. URLs are built
    deterministically from document metadata (the corpus has no URL
    column); the oracle re-parses the same strings with anchored
    regexes, which for these well-formed URLs is byte-equivalent."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    url = F.concat(
        F.lit("https://corpus.example.org/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&src="),
        F.col("source"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@query(
    "fn_try_safe",
    oracle="""
    SELECT doc_id,
           TRY_CAST(substr(text, 1, 3) AS INTEGER) AS first3_as_int,
           CASE WHEN n_chars - 300 = 0 THEN NULL
                ELSE CAST(FLOOR(10000.0 / (n_chars - 300)) AS INTEGER) END AS inv_offset,
           TRY_CAST(lang AS INTEGER) AS lang_as_int,
           n_chars % 7 AS mod7
    FROM documents
    """,
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error-handling battery (`try_*`): under ANSI SQL mode
    (Spark 4's default) a bad cast or division by zero FAILS the job —
    on a 100 TB corpus one malformed row would kill an hours-long
    pipeline run. `try_cast`/`try_divide`/`try_mod` convert those rows
    to NULL instead, making data-cleaning passes total functions. DuckDB
    has no try_divide so the oracle spells the NULL-on-zero contract
    with CASE; the division result is FLOORed before the int cast
    (DuckDB's double→int cast rounds, Spark's truncates)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr("try_cast(substring(text, 1, 3) AS INT)").alias("first3_as_int"),
        # FLOOR before the int cast: DuckDB's double->int cast ROUNDS
        # while Spark's truncates; floor of the same double is identical
        F.expr("CAST(FLOOR(try_divide(10000, n_chars - 300)) AS INT)").alias(
            "inv_offset"
        ),
        F.expr("try_cast(lang AS INT)").alias("lang_as_int"),
        F.expr("try_mod(n_chars, 7)").alias("mod7"),
    )


@query(
    "fn_collation",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END AS src_mixed
      FROM documents)
    SELECT lower(src_mixed) AS source_ci,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT src_mixed) AS n_case_variants
    FROM d GROUP BY lower(src_mixed)
    """,
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION surface: grouping under UTF8_LCASE compares
    case-insensitively WITHOUT materializing a lowercased copy — the
    collation travels with the column, so every comparison, join key,
    and aggregate key downstream inherits the semantics (and at 100 TB
    you skip one full projection of every string column you'd otherwise
    lower()). Mixed-case input is synthesized (upper() on even doc_ids)
    so the case-fold has hash-checked work; the emitted group key is
    explicitly lowercased because the ORACLE has no collations — the
    group MEMBERSHIP, though, is decided by the collation."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.upper("source"))
        .otherwise(F.col("source"))
        .alias("src_mixed"),
    )
    ci = F.expr("src_mixed COLLATE UTF8_LCASE")
    return (
        d.groupBy(ci.alias("src_ci"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.expr("src_mixed COLLATE UTF8_BINARY")).alias(
                "n_case_variants"
            ),
        )
        .select(
            F.lower(F.col("src_ci")).alias("source_ci"),
            "n_docs",
            "n_case_variants",
        )
    )


@query(
    "fn_inet",
    # Network-address scalar battery over synthesized IPv4s (construct-
    # then-parse, dedup_url_canonical's fixture pattern): per customer
    # an address mixing RFC1918 private ranges (10/8, 172.16/12) and a
    # public block; parse octets back from the dotted string, pack to
    # the 32-bit integer form, derive the /24 prefix by integer div,
    # flag private ranges by pure integer comparisons — every value an
    # exact integer or deterministic string in both engines.
    oracle="""
    WITH ip AS (
      SELECT c_custkey,
             (CASE c_custkey % 3 WHEN 0 THEN '10.' || CAST(c_custkey % 256 AS VARCHAR)
                   WHEN 1 THEN '172.' || CAST(16 + c_custkey % 16 AS VARCHAR)
                   ELSE '203.' || CAST(c_custkey % 113 AS VARCHAR) END)
             || '.' || CAST((c_custkey // 7) % 256 AS VARCHAR)
             || '.' || CAST((c_custkey // 11) % 256 AS VARCHAR) AS addr
      FROM customer),
    p AS (
      SELECT c_custkey, addr,
             CAST(string_split(addr, '.')[1] AS BIGINT) AS o1,
             CAST(string_split(addr, '.')[2] AS BIGINT) AS o2,
             CAST(string_split(addr, '.')[3] AS BIGINT) AS o3,
             CAST(string_split(addr, '.')[4] AS BIGINT) AS o4
      FROM ip)
    SELECT c_custkey, addr,
           o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ip_num,
           CAST((o1 * 16777216 + o2 * 65536 + o3 * 256 + o4) // 256
             AS BIGINT) AS prefix24,
           CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.'
             || CAST(o3 AS VARCHAR) || '.0/24' AS cidr24,
           (o1 = 10 OR (o1 = 172 AND o2 >= 16 AND o2 <= 31)
            OR (o1 = 192 AND o2 = 168)) AS is_private
    FROM p
    """,
)
def fn_inet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network-address functions — parse/pack/classify IPv4 (the
    scalar family behind clickstream geo/abuse pipelines: octet
    extraction, 32-bit packing, CIDR /24 bucketing for subnet rollups,
    RFC1918 private-range classification). Addresses are synthesized
    deterministically per customer across private and public ranges
    (construct-then-parse), then every derived value is recomputed
    from the STRING form — parsing is the thing under test.

    All zero-shuffle in-row string/integer work at scan speed; the
    /24 integer prefix is the canonical subnet aggregation key at
    10^12 flows (group by prefix24, never by dotted string)."""
    c = load(spark, sf_dir, "customer")
    addr = F.concat(
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(F.lit("10."), (F.col("c_custkey") % 256).cast("string")),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.concat(
                F.lit("172."), (16 + F.col("c_custkey") % 16).cast("string")
            ),
        )
        .otherwise(
            F.concat(F.lit("203."), (F.col("c_custkey") % 113).cast("string"))
        ),
        F.lit("."),
        (F.expr("c_custkey div 7") % 256).cast("string"),
        F.lit("."),
        (F.expr("c_custkey div 11") % 256).cast("string"),
    )
    p = c.select("c_custkey", addr.alias("addr")).select(
        "c_custkey",
        "addr",
        F.split(F.col("addr"), r"\.")[0].cast("bigint").alias("o1"),
        F.split(F.col("addr"), r"\.")[1].cast("bigint").alias("o2"),
        F.split(F.col("addr"), r"\.")[2].cast("bigint").alias("o3"),
        F.split(F.col("addr"), r"\.")[3].cast("bigint").alias("o4"),
    )
    ip_num = (
        F.col("o1") * 16777216
        + F.col("o2") * 65536
        + F.col("o3") * 256
        + F.col("o4")
    )
    return p.select(
        "c_custkey",
        "addr",
        ip_num.alias("ip_num"),
        F.expr(
            "CAST((o1 * 16777216 + o2 * 65536 + o3 * 256 + o4) div 256 AS BIGINT)"
        ).alias("prefix24"),
        F.concat(
            F.col("o1").cast("string"),
            F.lit("."),
            F.col("o2").cast("string"),
            F.lit("."),
            F.col("o3").cast("string"),
            F.lit(".0/24"),
        ).alias("cidr24"),
        (
            (F.col("o1") == 10)
            | ((F.col("o1") == 172) & (F.col("o2") >= 16) & (F.col("o2") <= 31))
            | ((F.col("o1") == 192) & (F.col("o2") == 168))
        ).alias("is_private"),
    )


@query(
    "fn_checksum_luhn",
    # Luhn check-digit battery (payments/IMEI/loyalty-card validation):
    # a 12-digit account number is synthesized per customer, its Luhn
    # check digit computed by the doubling rule (pure integer digit
    # work, ascending-position fold in both engines), appended, and the
    # full 13-digit number re-VALIDATED from the string form — with a
    # deliberately corrupted variant (last payload digit +1 mod 10)
    # that must fail. Construct-then-parse; everything exact integers.
    oracle="""
    WITH acct AS (
      SELECT c_custkey,
             lpad(CAST(400000000000 + c_custkey * 37 + (c_custkey * c_custkey) % 89
                  AS VARCHAR), 12, '0') AS payload
      FROM customer),
    s AS (
      SELECT c_custkey, payload,
             list_sum(list_transform(range(1, 13), i ->
               CASE WHEN (12 - i) % 2 = 0
                    THEN CASE WHEN 2 * CAST(substr(payload, CAST(i AS INT), 1) AS BIGINT) > 9
                              THEN 2 * CAST(substr(payload, CAST(i AS INT), 1) AS BIGINT) - 9
                              ELSE 2 * CAST(substr(payload, CAST(i AS INT), 1) AS BIGINT) END
                    ELSE CAST(substr(payload, CAST(i AS INT), 1) AS BIGINT) END))
               AS luhn_sum
      FROM acct),
    f AS (
      SELECT c_custkey, payload,
             CAST((10 - (luhn_sum % 10)) % 10 AS BIGINT) AS check_digit
      FROM s),
    v AS (
      SELECT c_custkey,
             payload || CAST(check_digit AS VARCHAR) AS account_number,
             check_digit,
             substr(payload, 1, 11)
               || CAST((CAST(substr(payload, 12, 1) AS BIGINT) + 1) % 10 AS VARCHAR)
               || CAST(check_digit AS VARCHAR) AS corrupted
      FROM f),
    val AS (
      SELECT c_custkey, account_number, check_digit, corrupted,
             list_sum(list_transform(range(1, 14), i ->
               CASE WHEN (13 - i) % 2 = 1
                    THEN CASE WHEN 2 * CAST(substr(account_number, CAST(i AS INT), 1) AS BIGINT) > 9
                              THEN 2 * CAST(substr(account_number, CAST(i AS INT), 1) AS BIGINT) - 9
                              ELSE 2 * CAST(substr(account_number, CAST(i AS INT), 1) AS BIGINT) END
                    ELSE CAST(substr(account_number, CAST(i AS INT), 1) AS BIGINT) END))
               % 10 AS mod_ok,
             list_sum(list_transform(range(1, 14), i ->
               CASE WHEN (13 - i) % 2 = 1
                    THEN CASE WHEN 2 * CAST(substr(corrupted, CAST(i AS INT), 1) AS BIGINT) > 9
                              THEN 2 * CAST(substr(corrupted, CAST(i AS INT), 1) AS BIGINT) - 9
                              ELSE 2 * CAST(substr(corrupted, CAST(i AS INT), 1) AS BIGINT) END
                    ELSE CAST(substr(corrupted, CAST(i AS INT), 1) AS BIGINT) END))
               % 10 AS mod_bad
      FROM v)
    SELECT c_custkey, account_number, check_digit,
           mod_ok = 0 AS valid,
           mod_bad = 0 AS corrupted_valid
    FROM val
    """,
)
def fn_checksum_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn checksum battery — generate AND validate the check digit
    the payments world runs on (cards, IMEIs, loyalty numbers): a
    synthesized 12-digit payload per customer gets its Luhn digit via
    the double-every-second-from-the-right rule, the 13-digit result
    re-validates from the STRING form (mod-10 == 0), and a
    single-digit corruption must fail validation (Luhn detects all
    single-digit errors by construction — asserted per row).

    Pure in-row integer digit arithmetic at scan speed in both engines
    (ascending-position folds over substrings); zero shuffle, zero
    UDFs. The corrupted twin makes the operator self-auditing: a
    broken doubling rule cannot return corrupted_valid = false for
    every row AND valid = true for every row simultaneously."""
    c = load(spark, sf_dir, "customer")
    payload = F.lpad(
        (
            F.lit(400000000000)
            + F.col("c_custkey") * 37
            + (F.col("c_custkey") * F.col("c_custkey")) % 89
        ).cast("string"),
        12,
        "0",
    )

    def luhn_sum(col: str, length: int) -> str:
        # double digits at even distance-from-right parity
        par = 0 if length % 2 == 0 else 1
        return (
            f"aggregate(sequence(1, {length}), 0L, (acc, i) -> acc + "
            f"CASE WHEN ({length} - i) % 2 = {par} THEN "
            f"IF(2 * CAST(substring({col}, i, 1) AS BIGINT) > 9, "
            f"2 * CAST(substring({col}, i, 1) AS BIGINT) - 9, "
            f"2 * CAST(substring({col}, i, 1) AS BIGINT)) "
            f"ELSE CAST(substring({col}, i, 1) AS BIGINT) END)"
        )

    acct = c.select("c_custkey", payload.alias("payload"))
    f12 = acct.withColumn(
        "check_digit",
        F.expr(f"CAST((10 - ({luhn_sum('payload', 12)} % 10)) % 10 AS BIGINT)"),
    )
    v = f12.select(
        "c_custkey",
        F.concat(F.col("payload"), F.col("check_digit").cast("string")).alias(
            "account_number"
        ),
        "check_digit",
        F.concat(
            F.substring("payload", 1, 11),
            ((F.substring("payload", 12, 1).cast("bigint") + 1) % 10).cast(
                "string"
            ),
            F.col("check_digit").cast("string"),
        ).alias("corrupted"),
    )
    return v.select(
        "c_custkey",
        "account_number",
        "check_digit",
        F.expr(f"({luhn_sum('account_number', 13)} % 10) = 0").alias("valid"),
        F.expr(f"({luhn_sum('corrupted', 13)} % 10) = 0").alias(
            "corrupted_valid"
        ),
    )
