"""Aggregation operators (SURVEY §2.4).

Reference parity: the patent pipeline's per-year / per-class patent and
citation counts are group-by aggregations (SURVEY §0.1 step 4, [PK-M]);
`agg_groupby` is the flagship pricing-summary form (TPC-H Q1 shape).

Scale notes: every query here is a single hash-aggregate with map-side
partial aggregation — one shuffle on the grouping key, no driver-side
loops. AQE coalesces post-shuffle partitions at small SF and splits skewed
keys at large SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.stable import davg, dsum, hex_int, round_dp, sql_davg, sql_dsum
from ..registry import query
from ..sources.tables import load


@query(
    "agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: scan → filter → hash agg."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('l_quantity')} AS total_qty,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
           {sql_davg('l_discount')} AS avg_discount
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate: single-row result via partial + final agg."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("total_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_discount").alias("avg_discount"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count per group (expand+two-phase agg under AQE)."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@query(
    "agg_approx_distinct",
    # HLL estimates are engine-specific, so the ESTIMATE itself can't be
    # hashed — but the estimate validated against the exact count can:
    # emit the exact count plus an in-bound flag (rsd=0.02 -> a 10%
    # bound is ~5 sigma; HLL is deterministic per engine, so the flag is
    # stable). A regression in approx_count_distinct now flips the flag
    # and fails the hash, instead of hiding behind a rows-only check.
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS est_within_10pct
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event type, validated in-query
    against the exact distinct count (companion exact query:
    agg_count_distinct)."""
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.1 * F.col("exact_users")
        ).alias("est_within_10pct"),
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two distinct aggregates in one group-by (Expand-based plan)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_filtered",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum('l_extendedprice').replace('SUM(', 'SUM(', 1)} AS total_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) FILTER (WHERE l_quantity > 25) AS DOUBLE) AS big_qty_price,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: sum(when(cond, x)) / count(when(cond, 1))."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dsum("l_extendedprice").alias("total_price"),
        F.sum(
            F.when(F.col("l_quantity") > 25, F.col("l_extendedprice")).cast(
                "decimal(22,6)"
            )
        )
        .cast("double")
        .alias("big_qty_price"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS order_year, o_orderpriority,
           GROUPING(CAST(YEAR(o_orderdate) AS INTEGER)) * 2 + GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_sales
    FROM orders
    GROUP BY ROLLUP (CAST(YEAR(o_orderdate) AS INTEGER), o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with subtotals + grouping id to disambiguate NULL-as-total
    from NULL-as-value."""
    o = load(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return o.rollup("order_year", "o_orderpriority").agg(
        (F.grouping("order_year") * 2 + F.grouping("o_orderpriority")).cast(
            "bigint"
        ).alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_sales"),
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT c.c_mktsegment, n.n_name,
           GROUPING(c.c_mktsegment) * 2 + GROUPING(n.n_name) AS gid,
           COUNT(*) AS n_customers,
           {sql_dsum('c.c_acctbal')} AS total_balance
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY CUBE (c.c_mktsegment, n.n_name)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube over (segment, nation) after a broadcast dim join."""
    from pyspark.sql.functions import broadcast

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    joined = c.join(broadcast(n), c.c_nationkey == n.n_nationkey)
    return joined.cube("c_mktsegment", "n_name").agg(
        (F.grouping("c_mktsegment") * 2 + F.grouping("n_name")).cast("bigint").alias(
            "gid"
        ),
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal").alias("total_balance"),
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           COUNT(*) AS n_items,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via SQL (DF API has no direct form — this IS
    the idiomatic Spark route)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("ips_lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sum_qty
        FROM ips_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_linestatus,
           CAST(ROUND(stddev_samp(l_quantity), 6) AS DOUBLE) AS sd_qty,
           CAST(ROUND(var_samp(l_quantity), 6) AS DOUBLE) AS var_qty,
           CAST(ROUND(corr(l_quantity, l_discount), 6) AS DOUBLE) AS corr_qd,
           CAST(ROUND(covar_samp(l_quantity, l_discount), 6) AS DOUBLE) AS cov_qd
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates over small-magnitude columns, rounded to 6dp
    (merge-order error ~1e-12 << 5e-7 boundary distance; SURVEY §5)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        round_dp(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        round_dp(F.var_samp("l_quantity"), 6).alias("var_qty"),
        round_dp(F.corr("l_quantity", "l_discount"), 6).alias("corr_qd"),
        round_dp(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qd"),
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT c_mktsegment,
           CAST(ROUND(quantile_cont(o_totalprice, 0.5), 4) AS DOUBLE) AS median_total,
           CAST(ROUND(quantile_cont(o_totalprice, 0.9), 4) AS DOUBLE) AS p90_total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (not approx -> cross-engine stable;
    both engines linearly interpolate over the sorted set)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            round_dp(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_total"),
            round_dp(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_total"),
        )
    )


@query(
    "agg_collect",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
           COUNT(*) AS n_orders
    FROM orders WHERE o_totalprice > 250000
    GROUP BY o_custkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer sorted key list (collect_list MUST be sorted for
    determinism; SURVEY §5). Emitted as a comma-joined string, not an
    array column: the driver's value-hash canonicalizer sorts result
    columns with pandas, which cannot hash/sort list cells (r1 failure)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return o.groupBy("o_custkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey"))).alias(
            "order_keys"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts pivoted by event_type with an explicit (deterministic)
    pivot column list."""
    e = load(spark, sf_dir, "events")
    pivoted = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    # pivot yields NULL for absent combos; oracle's COUNT FILTER yields 0
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["click", "error", "purchase", "signup", "view"]],
    )


@query(
    "agg_unpivot",
    oracle=f"""
    WITH long_ AS (
      SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT metric, COUNT(*) AS n_rows,
           {sql_dsum('val')} AS total,
           {sql_davg('val')} AS mean
    FROM long_ GROUP BY metric
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (Spark 4 ``unpivot``/melt) + per-metric
    aggregate. The unpivot is a narrow generate (no shuffle); only the
    4-group aggregate exchanges. The oracle states the same reshape as
    the portable UNION ALL."""
    li = load(spark, sf_dir, "lineitem")
    long_ = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return long_.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("val").alias("total"),
        davg("val").alias("mean"),
    )


@query(
    "agg_bool",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderstatus = 'F') AS any_finished,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any) per group + a filtered count."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_big"),
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 400000 THEN 21
                     ELSE FLOOR(o_totalprice / 20000) + 1 END AS INTEGER) AS bucket,
           COUNT(*) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders GROUP BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket binning (20 buckets over
    [0, 400k] plus overflow bucket 21) — one partial-aggregated group-by;
    the bucket function is pure row-local arithmetic."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(400000), F.lit(20))
            .cast("int")
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


_CMS_D = 4   # hash rows
_CMS_W = 64  # cells per row


def _cms_cell_spark(j_col: F.Column, key_col: F.Column) -> F.Column:
    """Cell index for hash row j: first two md5 hex digits mod w. md5 is
    the cross-engine-stable hash of the determinism contract (SURVEY §5);
    two hex digits give 0..255, and 256 % 64 == 0 keeps the mod uniform."""
    h = F.md5(F.concat_ws(":", j_col, key_col))
    return (hex_int(h, 2).cast("int") % _CMS_W).alias("cell")


_CMS_CELL_SQL = """
    CAST(((strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 2, 1)) - 1)) % 64
         AS INTEGER)
"""


@query(
    "agg_sketch_cms",
    oracle=f"""
    WITH js AS (SELECT unnest(range(0, {_CMS_D})) AS j),
    cells AS (
      SELECT e.user_id, js.j, {_CMS_CELL_SQL} AS cell
      FROM events e CROSS JOIN js
    ),
    sketch AS (SELECT j, cell, COUNT(*) AS cnt FROM cells GROUP BY j, cell),
    exact AS (SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id),
    probe AS (
      SELECT x.user_id, x.exact_n, js.j, {_CMS_CELL_SQL} AS cell
      FROM (SELECT user_id, exact_n FROM exact) x CROSS JOIN js
    )
    SELECT p.user_id, p.exact_n, MIN(s.cnt) AS cms_est
    FROM probe p JOIN sketch s ON p.j = s.j AND p.cell = s.cell
    GROUP BY p.user_id, p.exact_n
    """,
)
def agg_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4, w=64) over events.user_id: build the sketch
    as a (row, cell) -> count table, then probe it for every distinct user
    and report estimate vs exact count (CMS guarantees est >= exact; the
    overestimate comes from cell collisions). The sketch build is one
    partial-aggregated group-by over d copies of the stream — the
    mergeable-summary pattern: at 100 TB each executor folds its partition
    into a 256-cell partial sketch and only sketches cross the shuffle,
    never raw keys. Hash cells derive from md5 so DuckDB reproduces the
    sketch bit-for-bit."""
    ev = load(spark, sf_dir, "events").select("user_id")
    js = F.array(*[F.lit(j) for j in range(_CMS_D)])
    cells = ev.select("user_id", F.explode(js).alias("j")).select(
        "user_id", "j", _cms_cell_spark(F.col("j"), F.col("user_id"))
    )
    sketch = cells.groupBy("j", "cell").agg(F.count(F.lit(1)).alias("cnt"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    probe = exact.select("user_id", "exact_n", F.explode(js).alias("j")).select(
        "user_id",
        "exact_n",
        "j",
        _cms_cell_spark(F.col("j"), F.col("user_id")),
    )
    return (
        probe.join(F.broadcast(sketch), ["j", "cell"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )


@query(
    "funnel_stages",
    oracle="""
    WITH a AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
      FROM events GROUP BY user_id
    ),
    b AS (
      SELECT e.user_id, a.t1,
             MIN(CASE WHEN e.event_type = 'click' AND e.ts > a.t1 THEN e.ts END) AS t2
      FROM events e JOIN a USING (user_id) GROUP BY e.user_id, a.t1
    ),
    c AS (
      SELECT e.user_id, b.t1, b.t2,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > b.t2 THEN e.ts END) AS t3
      FROM events e JOIN b USING (user_id) GROUP BY e.user_id, b.t1, b.t2
    )
    SELECT user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS stage,
           CAST(CASE WHEN t3 IS NOT NULL THEN date_diff('second', t1, t3) END AS BIGINT)
             AS funnel_sec
    FROM c
    """,
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analysis (view -> click -> purchase) per user:
    stage 1 = first view, stage 2 = first click strictly after it,
    stage 3 = first purchase strictly after that; funnel_sec = view-to-
    purchase latency for completers. Three conditional-min aggregations;
    each later stage re-joins the (one-row-per-user) prior stage back to
    the fact stream — the anchor table is tiny so at 100 TB these are
    broadcast-shaped joins and the event stream is scanned, never
    shuffled wide."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    a = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    )
    b = (
        ev.join(a, "user_id")
        .groupBy("user_id", "t1")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).alias("t2")
        )
    )
    c = (
        ev.join(b, "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).alias("t3")
        )
    )
    stage = (
        F.when(F.col("t3").isNotNull(), F.lit(3))
        .when(F.col("t2").isNotNull(), F.lit(2))
        .when(F.col("t1").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
    )
    sec = F.when(
        F.col("t3").isNotNull(),
        F.expr("unix_micros(CAST(t3 AS TIMESTAMP)) div 1000000")
        - F.expr("unix_micros(CAST(t1 AS TIMESTAMP)) div 1000000"),
    ).cast("bigint")
    return c.select("user_id", stage.alias("stage"), sec.alias("funnel_sec"))


@query(
    "time_rollup_hier",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS bucket_ts,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def time_rollup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup (continuous-aggregate
    pattern): minute-level partials -> 10-minute -> hour, each level
    re-aggregated from the FINER level, never from raw events. Only
    mergeable statistics cross levels (count/sum/min/max; averages are
    derived at read time as sum/count), and the decimal sum keeps the
    merge order-independent, so the three-stage rollup is bit-identical
    to the oracle's direct hour aggregate over raw data — which is the
    property that makes the pattern valid.

    Scale shape: at 100 TB this is THE way to serve time-series queries —
    the raw stream is aggregated once into the finest rollup (here 1 min)
    and every coarser resolution derives from ~1/60th the rows; Spark's
    partial aggregation already computes per-partition partials, so each
    level is one narrow shuffle over already-tiny data. The same tree
    extends incrementally under streaming (stream_tumbling writes the
    finest level; this operator is the batch re-rollup)."""
    e = load(spark, sf_dir, "events")
    minute = (
        e.groupBy(
            F.date_trunc("minute", "ts").alias("m_ts"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)")).alias("sum_dec"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    ten_min = (
        minute.groupBy(
            F.expr(
                "timestampadd(MINUTE, -(minute(m_ts) % 10), date_trunc('minute', m_ts))"
            ).alias("t_ts"),
            "event_type",
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").alias("sum_dec"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    hour = (
        ten_min.groupBy(
            F.date_trunc("hour", "t_ts").alias("bucket_ts"),
            "event_type",
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    return hour.select(
        "bucket_ts", "event_type", "n_events", "sum_value", "min_value", "max_value"
    )


@query(
    "agg_hll_sketch",
    # DuckDB has no DataSketches implementation, so the ESTIMATES can't
    # be hashed — but estimates validated in-query against exact counts
    # can (lgK=12 -> rse ~1.6%; a 10% bound is ~6 sigma and the sketch
    # is deterministic per engine, so the flags are stable). A
    # regression in sketch_agg/union/estimate flips a flag and fails the
    # hash. Accuracy is additionally property-tested in
    # tests/test_properties.py. (Upgraded from r2's rows-only.)
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS est_within_10pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT user_id), TRUE FROM events
    """,
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch surface (Apache DataSketches, built into
    Spark 4): per-event-type user sketches via hll_sketch_agg, estimated
    with hll_sketch_estimate, then the per-group BINARY sketches merged
    with hll_union_agg into a corpus-wide distinct estimate — without
    touching raw data again; each estimate is validated in-query against
    the exact distinct count (see decorator note).

    Scale shape: the sketch IS the shuffle payload — each executor sends
    one ~lgK=12 sketch per group instead of its user-id set, and the same
    sketches are reusable partials for any coarser grouping (the rollup
    property, binary-compatible with other DataSketches impls)."""
    rows = _hll_estimates(spark, sf_dir)
    in_bound = (
        F.abs(F.col("est_users") - F.col("exact_users"))
        <= 0.1 * F.col("exact_users")
    ).alias("est_within_10pct")
    return rows.select("event_type", "exact_users", in_bound)


def _hll_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, est_users, exact_users) incl. the merged 'ALL' row —
    the raw-estimate surface agg_hll_sketch validates; the accuracy
    property test reads it directly."""
    e = load(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    merged = (
        per_type.agg(F.hll_union_agg("sk").alias("sk_all"))
        .crossJoin(e.agg(F.count_distinct("user_id").alias("exact_users")))
        .select(
            F.lit("ALL").alias("event_type"),
            F.hll_sketch_estimate("sk_all").alias("est_users"),
            "exact_users",
        )
    )
    return per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("est_users"),
        "exact_users",
    ).unionByName(merged)


@query(
    "agg_minmax_by",
    # DuckDB 1.0 arg_max/arg_min reject composite ordering keys, so the
    # oracle takes the rank-window form with the SAME explicit
    # o_orderkey tie-break the Spark struct key encodes. Previously both
    # sides relied on probed per-group uniqueness of o_totalprice — a
    # regenerated-testdata tie would have made the engines diverge
    # nondeterministically (ADVICE r2).
    oracle="""
    WITH j AS (
      SELECT c_mktsegment, o_orderkey, o_totalprice
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    r AS (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rb,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice ASC, o_orderkey) AS rs
      FROM j
    )
    SELECT c_mktsegment,
           MAX(CASE WHEN rb = 1 THEN o_orderkey END) AS biggest_order,
           CAST(MAX(o_totalprice) AS DOUBLE) AS biggest_total,
           MAX(CASE WHEN rs = 1 THEN o_orderkey END) AS smallest_order,
           CAST(MIN(o_totalprice) AS DOUBLE) AS smallest_total
    FROM r GROUP BY c_mktsegment
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregates (max_by/min_by): which order is the
    biggest per segment — one hash aggregate instead of the window +
    filter detour. The ordering key is a STRUCT with an explicit
    o_orderkey tie-break (smallest orderkey wins on equal totals), so a
    price tie can never make the answer partitioning-dependent; Spark
    compares structs lexicographically inside the same single hash
    aggregate."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.max_by(
                "o_orderkey",
                F.struct(F.col("o_totalprice"), (-F.col("o_orderkey")).alias("tb")),
            ).alias("biggest_order"),
            F.max("o_totalprice").alias("biggest_total"),
            F.min_by(
                "o_orderkey", F.struct("o_totalprice", "o_orderkey")
            ).alias("smallest_order"),
            F.min("o_totalprice").alias("smallest_total"),
        )
    )


@query(
    "agg_mode",
    oracle="""
    SELECT user_id, event_type AS modal_type, n AS modal_count
    FROM (
      SELECT user_id, event_type, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent event type per user): count per
    (group, value) then a rank-1 window with an explicit value tie-break.
    Built-in ``mode()`` is tie-nondeterministic in BOTH engines, so the
    checked form is the count+rank expansion — same shape either way:
    one partial+final aggregate, one WindowGroupLimit-able window."""
    e = load(spark, sf_dir, "events")
    counted = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("n").alias("modal_count"),
        )
    )


_QSK_BIN = "CAST(FLOOR(l_extendedprice / CAST(1000 AS DOUBLE)) AS BIGINT)"


def _qsk_est(q: str) -> str:
    """Shared Spark/DuckDB expression for the quantile estimate at target
    rank ceil(q*n): linear interpolation inside the bucket that covers
    the rank. q is an exact decimal literal in both engines; every
    arithmetic step is the same double op in the same order, so the
    estimate is bit-identical cross-engine."""
    t = f"CAST(CEIL({q} * n) AS BIGINT)"
    return (
        f"MIN(CASE WHEN cum >= {t} AND cum - cnt < {t} THEN "
        f"CAST(bin * 1000 AS DOUBLE) + CAST(1000 AS DOUBLE) "
        f"* CAST({t} - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE) END)"
    )


@query(
    "agg_quantile_sketch",
    # Mergeable quantile sketch: fixed-width histogram partials (the
    # percentile analog of agg_hll_sketch's HLL union — both exhibit
    # "partials merge exactly into the global sketch"). The oracle builds
    # the histogram directly; the Spark side builds it as TWO half-table
    # partial sketches merged by summed bin counts, and the results are
    # identical BECAUSE the sketch is mergeable — that equality is what
    # the hash check verifies.
    oracle=f"""
    WITH h AS (
      SELECT l_returnflag, {_QSK_BIN} AS bin, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    c AS (
      SELECT l_returnflag, bin, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM h
    )
    SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n_rows,
           {_qsk_est('0.5')} AS p50_est,
           {_qsk_est('0.95')} AS p95_est
    FROM c GROUP BY l_returnflag
    """,
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles from a MERGEABLE fixed-width histogram
    sketch (width=1000 over l_extendedprice): per-(flag, bin) counts are
    the sketch; merging sketches = summing bin counts. Exhibited
    explicitly: the table is split into two halves, each half builds its
    own partial sketch, the partials merge by summed counts, and p50/p95
    interpolate inside the rank-covering bucket.

    Scale shape: this is how percentile dashboards work at 100 TB — each
    partition/day/shard keeps a tiny (n_bins) histogram, merges are
    associative map-side combines, and no quantile computation ever sees
    raw rows twice. (Spark's percentile_approx works the same way with an
    adaptive KLL-style sketch; the fixed-bin form is used here because
    its estimate is exactly reproducible in SQL.)"""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    bin_col = F.expr(_QSK_BIN).alias("bin")
    # two independent partial sketches (any disjoint split works)...
    h1 = (
        li.filter(F.col("l_orderkey") % 2 == 0)
        .groupBy("l_returnflag", bin_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    h2 = (
        li.filter(F.col("l_orderkey") % 2 == 1)
        .groupBy("l_returnflag", bin_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # ...merged: sketch-union is just summed bin counts
    h = (
        h1.unionByName(h2)
        .groupBy("l_returnflag", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    from pyspark.sql.window import Window

    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    c = h.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    return c.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.expr(_qsk_est("0.5")).alias("p50_est"),
        F.expr(_qsk_est("0.95")).alias("p95_est"),
    )


# Exact integer cents (value has <=2 decimal digits; ROUND(value*100) is
# the same IEEE double op in Spark and DuckDB, positive-only so HALF_UP ==
# half-away-from-zero) — integer sums make every downstream mean/variance
# bit-reproducible regardless of aggregation order. The same trick the
# money columns use (decimal), specialized for the events fact table.
_CENTS = "CAST(ROUND(value * 100, 0) AS BIGINT)"


@query(
    "agg_ohlc",
    oracle="""
    WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type, ts, event_id,
                      CAST(round(value*100, 0) AS BIGINT) AS cents FROM events)
    SELECT day, event_type,
           first(cents ORDER BY ts, event_id) / 100.0 AS open,
           max(cents) / 100.0 AS high,
           min(cents) / 100.0 AS low,
           last(cents ORDER BY ts, event_id) / 100.0 AS close,
           count(*) AS n_trades,
           sum(cents) / 100.0 AS volume
    FROM e GROUP BY day, event_type
    """,
)
def agg_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed OHLC bars (the time-series downsampling primitive:
    one output row per day x event_type with open/high/low/close/volume).
    `min_by(v, (ts, id))` / `max_by(v, (ts, id))` give open/close in the SAME single
    hash aggregate as high/low/volume — one scan, one shuffle on the
    (day, type) key, partials merge map-side; no window sort and no
    self-join; event_id tiebreak keeps ordered-first semantics
    deterministic even under duplicate timestamps. At 100 TB this is the classic
    "downsample ticks to bars" rollup: output is |days| x |types| rows,
    thousands of times smaller than the input."""
    e = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.col("ts"),
        F.col("event_id"),
        F.expr(_CENTS).alias("cents"),
    )
    # (ts, event_id) struct ordering: ts is unique today, but the driver
    # regenerates testdata between rounds — the tiebreak keeps min_by/
    # max_by deterministic (and matching the oracle's ordered first/last)
    # even if duplicate timestamps appear.
    agg = e.groupBy("day", "event_type").agg(
        F.expr("min_by(cents, struct(ts, event_id))").alias("open_c"),
        F.max("cents").alias("high_c"),
        F.min("cents").alias("low_c"),
        F.expr("max_by(cents, struct(ts, event_id))").alias("close_c"),
        F.count(F.lit(1)).alias("n_trades"),
        F.sum("cents").alias("vol_c"),
    )
    return agg.select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        (F.col("open_c") / 100.0).alias("open"),
        (F.col("high_c") / 100.0).alias("high"),
        (F.col("low_c") / 100.0).alias("low"),
        (F.col("close_c") / 100.0).alias("close"),
        "n_trades",
        (F.col("vol_c") / 100.0).alias("volume"),
    )


@query(
    "agg_gini",
    oracle="""
    WITH e AS (SELECT event_type, event_id,
                      CAST(round(value*100,0) AS BIGINT) AS c FROM events),
    r AS (SELECT event_type, c,
                 row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn
          FROM e)
    SELECT event_type, count(*) AS n,
           round((2.0*sum(rn*c) - (count(*)+1)*sum(c)) / (count(*)*sum(c)), 9) AS gini
    FROM r GROUP BY event_type
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Gini coefficient of the value distribution (inequality /
    concentration metric — data-quality dashboards use it to spot
    domination of a corpus by few sources). Rank formula
    G = (2*SUM(i*x_i) - (n+1)*SUM(x)) / (n*SUM(x)) over ascending-sorted
    exact integer cents: one within-group sort (window row_number) + one
    hash agg — no pairwise |x_i - x_j| cross join, which is the naive
    O(n^2) formulation. All sums are exact int64 so the single final
    division is the only float op (bit-identical across engines and
    aggregation orders)."""
    e = load(spark, sf_dir, "events").select(
        "event_type", "event_id", F.expr(_CENTS).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("c", "event_id")
    r = e.withColumn("rn", F.row_number().over(w))
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("tot"),
        F.sum(F.col("rn") * F.col("c")).alias("rsum"),
    )
    gini = (2.0 * F.col("rsum") - (F.col("n") + 1) * F.col("tot")) / (
        F.col("n") * F.col("tot")
    )
    return g.select("event_type", "n", round_dp(gini).alias("gini"))


@query(
    "agg_hll_intersect",
    # Sketch ALGEBRA: HLL sketches support union natively; intersection
    # comes from inclusion-exclusion (|A∩B| = |A|+|B|-|A∪B|), the
    # standard audience-overlap estimator. Like agg_hll_sketch the
    # estimates themselves are engine-specific, so the hashed contract
    # is exact overlaps + estimate-in-bound flags (error compounds
    # across three estimates; the intersections here are large, so a
    # 25% bound is many sigmas — deterministic per engine).
    oracle="""
    WITH ut AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS exact_overlap, TRUE AS est_within_25pct
    FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
)
def agg_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap via sketch algebra: one HLL sketch per
    event_type (5 sketches, KBs — the only thing that crosses the
    shuffle), then every pair's intersection estimated by
    inclusion-exclusion over hll_union. At 100 TB this replaces a
    users×users self-join with a per-partition sketch build + a 5-row
    broadcast pair join: the exact self-join here exists only to ground
    the in-bound flags (and is itself distinct-deduped first, never
    event×event)."""
    e = load(spark, sf_dir, "events")
    ut = e.select("event_type", "user_id").distinct()
    exact = (
        ut.alias("a")
        .join(
            ut.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    sk = e.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("ska"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("skb"))
    est = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .withColumn(
            "est_overlap",
            F.expr("hll_sketch_estimate(ska)")
            + F.expr("hll_sketch_estimate(skb)")
            - F.expr("hll_sketch_estimate(hll_union(ska, skb))"),
        )
        .select("type_a", "type_b", "est_overlap")
    )
    return (
        exact.join(est, ["type_a", "type_b"])
        .withColumn(
            "est_within_25pct",
            F.abs(F.col("est_overlap") - F.col("exact_overlap"))
            <= 0.25 * F.col("exact_overlap"),
        )
        .select("type_a", "type_b", "exact_overlap", "est_within_25pct")
    )


@query(
    "agg_heavy_hitters",
    # Two-pass heavy hitters (the distributed SpaceSaving/Misra-Gries
    # replacement): pass 1 finds candidates on a deterministic 12.5%
    # hash-sample (first md5 hex digit in {0, a} = 2/16 of rows; global
    # top-20 by sampled count), pass 2 recounts the
    # candidates EXACTLY over the full table via a broadcast semi join.
    # The exact recount makes the answer verifiable — the sample only
    # risks missing a hitter, never reporting a wrong count.
    oracle="""
    WITH samp AS (
      SELECT user_id, COUNT(*) AS sample_count FROM events
      WHERE (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) % 10 = 0
      GROUP BY user_id
      ORDER BY sample_count DESC, user_id LIMIT 20),
    exact AS (
      SELECT e.user_id, COUNT(*) AS exact_count
      FROM events e JOIN samp s ON e.user_id = s.user_id
      GROUP BY e.user_id)
    SELECT s.user_id, s.sample_count, x.exact_count
    FROM samp s JOIN exact x ON s.user_id = x.user_id
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items via sample-then-verify: candidate generation runs
    on a 12.5% deterministic hash sample (2 of 16 first-hex-digit
    buckets) (pushdown-friendly filter, global
    top-20 compiles to TakeOrderedAndProject — no full sort), then the
    exact pass recounts ONLY the 20 candidates (broadcast semi-shaped
    join prunes the fact scan's aggregation to 20 keys). At 100 TB this
    is the standard two-pass heavy-hitters harness: the sample pass is
    an eighth of one scan, the verify pass aggregates a 20-key subset, and no
    per-key state ever exceeds the candidate list."""
    e = load(spark, sf_dir, "events")
    bucket = hex_int(F.md5(F.col("event_id").cast("string")), 1).cast("int") % 10
    samp = (
        e.filter(bucket == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("sample_count"))
        .orderBy(F.col("sample_count").desc(), F.col("user_id"))
        .limit(20)
    )
    exact = (
        e.join(F.broadcast(samp.select("user_id")), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return samp.join(F.broadcast(exact), "user_id").select(
        "user_id", "sample_count", "exact_count"
    )


@query(
    "agg_bitmap_distinct",
    # EXACT distinct via bitmap aggregation (the ClickHouse/Doris
    # groupBitmap pattern): user ids pack into 32-bit words
    # (word = id div 32, bit = id % 32), per-(group, word) bit_or folds
    # map-side, popcounts sum to the exact distinct count. Unlike HLL
    # this is exact AND mergeable; unlike count(distinct) the shuffle
    # carries O(id_range / 32) words per group, not one row per
    # (group, id) pair. 32-bit words: DuckDB's `<<` errors at bit 63.
    oracle="""
    WITH w AS (
      SELECT event_type, user_id // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS word
      FROM events GROUP BY event_type, user_id // 32)
    SELECT event_type, CAST(SUM(bit_count(word)) AS BIGINT) AS n_distinct_users
    FROM w GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via bitmap aggregation: each (group,
    id-range word) partial is a 32-bit bitmap built with a map-side
    `bit_or` combine, and the distinct count is the popcount sum — exact
    like COUNT(DISTINCT) but MERGEABLE like a sketch (union = OR), so
    partials roll up across shards, days, or rollup levels without
    re-touching raw data. Shuffle payload is id_range/32 words per
    group regardless of row count; for sparse 64-bit id spaces the
    production form is a roaring bitmap, same algebra. The oracle
    replays the identical pack/popcount arithmetic."""
    e = load(spark, sf_dir, "events")
    w = e.groupBy(
        "event_type", F.expr("user_id div 32").alias("word_idx")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))"
        ).alias("word")
    )
    return w.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n_distinct_users")
    )


@query(
    "time_downsample_lttb",
    # LTTB downsampling (largest-triangle-three-buckets, the standard
    # visualization downsampler), parallel variant: interior buckets
    # pick the point with max triangle area against the NEIGHBOR BUCKET
    # AVERAGES (the classic sequential LTTB uses the previously selected
    # point; the bucket-average variant is order-free and hence
    # distributable). Integer bucket math (width = span div 20 + 1);
    # areas are doubles derived from exact ints -> identical cross-engine.
    oracle="""
    WITH e AS (
      SELECT event_type, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS x,
             CAST(round(value*100,0) AS BIGINT) AS y
      FROM events),
    span AS (
      SELECT event_type, min(x) AS t0,
             (max(x) - min(x)) // 20 + 1 AS width
      FROM e GROUP BY event_type),
    p AS (
      SELECT e.event_type, e.event_id, e.x, e.y,
             (e.x - s.t0) // s.width AS bucket
      FROM e JOIN span s ON e.event_type = s.event_type),
    a AS (
      SELECT event_type, bucket,
             sum(x) / count(*) AS ax, sum(y) / count(*) AS ay
      FROM p GROUP BY event_type, bucket),
    bmax AS (SELECT event_type, max(bucket) AS mb FROM p GROUP BY event_type),
    lo AS (
      SELECT event_type, bucket, x, y FROM (
        SELECT p.*, row_number() OVER (PARTITION BY p.event_type
                     ORDER BY p.x, p.event_id) AS rn
        FROM p WHERE p.bucket = 0) WHERE rn = 1),
    hi AS (
      SELECT p.event_type, p.bucket, p.x, p.y FROM (
        SELECT p.*, row_number() OVER (PARTITION BY p.event_type
                     ORDER BY p.x DESC, p.event_id) AS rn
        FROM p JOIN bmax ON p.event_type = bmax.event_type
        WHERE p.bucket = bmax.mb) p WHERE rn = 1),
    mid AS (
      SELECT event_type, bucket, x, y FROM (
        SELECT p.event_type, p.bucket, p.x, p.y,
               row_number() OVER (PARTITION BY p.event_type, p.bucket
                 ORDER BY round(abs((ap.ax - an.ax) * (p.y - ap.ay)
                                  - (ap.ax - p.x) * (an.ay - ap.ay)), 6) DESC,
                          p.event_id) AS rn
        FROM p
        JOIN bmax ON p.event_type = bmax.event_type
        JOIN a ap ON ap.event_type = p.event_type AND ap.bucket = p.bucket - 1
        JOIN a an ON an.event_type = p.event_type AND an.bucket = p.bucket + 1
        WHERE p.bucket > 0 AND p.bucket < bmax.mb)
      WHERE rn = 1)
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket, x AS epoch_sec,
           y / 100.0 AS value
    FROM (SELECT * FROM lo UNION ALL SELECT * FROM mid UNION ALL SELECT * FROM hi)
    """,
)
def time_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB chart downsampling: ~20 points per series that preserve the
    visual shape (peaks and slopes beat uniform sampling). Interior
    buckets keep their max-triangle-area point vs the neighbor buckets'
    centroids — the order-free variant of LTTB, so every bucket scores
    independently and the whole pass is one groupBy + one broadcast join
    of the 20-row-per-series average table + one WindowGroupLimit
    argmax. Endpoints keep the series' first/last point (LTTB contract).
    Bucketing is integer (width = span div 20 + 1); areas are doubles
    derived from exact integer sums, bit-identical cross-engine. At
    100 TB this downsampled table IS what dashboards read — 20 points
    per (series, zoom level) regardless of tick volume."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").alias("x"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("y"),
    )
    span = e.groupBy("event_type").agg(
        F.min("x").alias("t0"),
        ((F.max("x") - F.min("x")) / 20).cast("bigint").alias("w0"),
    ).select("event_type", "t0", (F.col("w0") + 1).alias("width"))
    p = e.join(F.broadcast(span), "event_type").withColumn(
        "bucket", ((F.col("x") - F.col("t0")) / F.col("width")).cast("bigint")
    ).select("event_type", "event_id", "x", "y", "bucket")
    a = p.groupBy("event_type", "bucket").agg(
        (F.sum("x") / F.count(F.lit(1))).alias("ax"),
        (F.sum("y") / F.count(F.lit(1))).alias("ay"),
    )
    bmax = p.groupBy("event_type").agg(F.max("bucket").alias("mb"))
    w_lo = Window.partitionBy("event_type").orderBy("x", "event_id")
    lo = (
        p.filter(F.col("bucket") == 0)
        .withColumn("rn", F.row_number().over(w_lo))
        .filter(F.col("rn") == 1)
        .select("event_type", "bucket", "x", "y")
    )
    w_hi = Window.partitionBy("event_type").orderBy(F.col("x").desc(), "event_id")
    hi = (
        p.join(F.broadcast(bmax), "event_type")
        .filter(F.col("bucket") == F.col("mb"))
        .withColumn("rn", F.row_number().over(w_hi))
        .filter(F.col("rn") == 1)
        .select("event_type", "bucket", "x", "y")
    )
    ap = a.select(
        F.col("event_type").alias("et_p"),
        (F.col("bucket") + 1).alias("b_p"),
        F.col("ax").alias("axp"),
        F.col("ay").alias("ayp"),
    )
    an = a.select(
        F.col("event_type").alias("et_n"),
        (F.col("bucket") - 1).alias("b_n"),
        F.col("ax").alias("axn"),
        F.col("ay").alias("ayn"),
    )
    area = F.abs(
        (F.col("axp") - F.col("axn")) * (F.col("y") - F.col("ayp"))
        - (F.col("axp") - F.col("x")) * (F.col("ayn") - F.col("ayp"))
    )
    w_mid = Window.partitionBy("event_type", "bucket").orderBy(
        round_dp(area, 6).desc(), F.col("event_id")
    )
    mid = (
        p.join(F.broadcast(bmax), "event_type")
        .filter((F.col("bucket") > 0) & (F.col("bucket") < F.col("mb")))
        .join(
            F.broadcast(ap),
            (F.col("event_type") == F.col("et_p")) & (F.col("bucket") == F.col("b_p")),
        )
        .join(
            F.broadcast(an),
            (F.col("event_type") == F.col("et_n")) & (F.col("bucket") == F.col("b_n")),
        )
        .withColumn("rn", F.row_number().over(w_mid))
        .filter(F.col("rn") == 1)
        .select("event_type", "bucket", "x", "y")
    )
    return (
        lo.unionByName(mid)
        .unionByName(hi)
        .select(
            "event_type",
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("x").alias("epoch_sec"),
            (F.col("y") / 100.0).alias("value"),
        )
    )


@query(
    "agg_weighted_median",
    # Weighted median (the percentile most engines don't ship): sort by
    # value, take the first row whose 2x cumulative weight reaches the
    # total — all exact int64 (quantities are integral, prices exact
    # cents), so the crossing row is unambiguous cross-engine; l_orderkey,
    # l_linenumber tiebreak pins equal-price orderings.
    oracle="""
    WITH e AS (SELECT l_returnflag,
                      CAST(round(l_extendedprice*100,0) AS BIGINT) AS price_c,
                      CAST(round(l_quantity,0) AS BIGINT) AS w,
                      l_orderkey, l_linenumber
               FROM lineitem),
    s AS (
      SELECT l_returnflag, price_c, w,
             SUM(w) OVER (PARTITION BY l_returnflag
                          ORDER BY price_c, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM e)
    SELECT l_returnflag, price_c / 100.0 AS weighted_median_price,
           CAST(tw AS BIGINT) AS total_weight
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                 ORDER BY cw, price_c) AS rn
          FROM s WHERE 2 * cw >= tw)
    WHERE rn = 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    percentile that `percentile()` families don't cover (each row
    counts `w` times; computing it by exploding w copies would be
    insane at 100 TB). One sort per group + running weight sum; the
    median is the first row where 2·cumweight ≥ totalweight — an exact
    integer test, so no interpolation and no float divergence. The same
    shape generalizes to any weighted quantile q by changing the
    crossing fraction."""
    e = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias("price_c"),
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    s = e.withColumn("cw", F.sum("w").over(w_cum)).withColumn(
        "tw", F.sum("w").over(w_tot)
    )
    w_pick = Window.partitionBy("l_returnflag").orderBy("cw", "price_c")
    return (
        s.filter(2 * F.col("cw") >= F.col("tw"))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            (F.col("price_c") / 100.0).alias("weighted_median_price"),
            F.col("tw").cast("bigint").alias("total_weight"),
        )
    )


@query(
    "agg_ab_ttest",
    # Welch's two-sample t-test between every event-type pair (the A/B
    # experiment readout): per-group n / mean / variance come from exact
    # int64 cent sums, so the t statistic and Welch–Satterthwaite df are
    # single float expressions over identical inputs — bit-equal
    # cross-engine after the repo's 9dp rounding.
    oracle="""
    WITH g AS (
      SELECT event_type, COUNT(*) AS n, SUM(c) AS s1, SUM(c*c) AS s2
      FROM (SELECT event_type, CAST(round(value*100,0) AS BIGINT) AS c FROM events)
      GROUP BY event_type),
    st AS (
      SELECT event_type, n,
             s1 / CAST(n AS DOUBLE) AS m,
             (s2 - s1 * (s1 / CAST(n AS DOUBLE)))
               / CAST(n - 1 AS DOUBLE) AS v
      FROM g)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 9) AS t_stat,
           round(pow(a.v / a.n + b.v / b.n, 2)
                 / (pow(a.v / a.n, 2) / (a.n - 1)
                    + pow(b.v / b.n, 2) / (b.n - 1)), 9) AS welch_df
    FROM st a JOIN st b ON a.event_type < b.event_type
    """,
)
def agg_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's t statistic + Welch–Satterthwaite
    degrees of freedom for every event-type pair. The expensive part —
    per-group moments — is ONE hash aggregate over exact integer cents
    (mergeable partials, so at 100 TB the experiment stats job is a
    single map-side-combining scan); the 5-row stats table pair-joins
    via broadcast and the t/df formulas are pure post-aggregation
    arithmetic. Deliberately no p-value: the CDF needs a special
    function both engines would approximate differently — downstream
    tooling thresholds on |t| with df."""
    e = load(spark, sf_dir, "events").select(
        "event_type", F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c")
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    m = F.col("s1") / F.col("n").cast("double")
    st = g.select(
        "event_type",
        "n",
        m.alias("m"),
        (
            (F.col("s2") - F.col("s1") * (F.col("s1") / F.col("n").cast("double")))
            / (F.col("n") - 1).cast("double")
        ).alias("v"),
    )
    a = st.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("m").alias("m_a"),
        F.col("v").alias("v_a"),
    )
    b = st.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("m").alias("m_b"),
        F.col("v").alias("v_b"),
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    df_num = F.pow(se2, 2)
    df_den = F.pow(F.col("v_a") / F.col("n_a"), 2) / (F.col("n_a") - 1) + F.pow(
        F.col("v_b") / F.col("n_b"), 2
    ) / (F.col("n_b") - 1)
    return (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            round_dp((F.col("m_a") - F.col("m_b")) / F.sqrt(se2)).alias("t_stat"),
            round_dp(df_num / df_den).alias("welch_df"),
        )
    )


@query(
    "agg_trend_ols",
    # Closed-form OLS trend per series (value vs time): slope/intercept
    # from exact int64 moments. x is minutes since the series start so
    # every product (n·Sxy, Sx², n·Sxx) stays within int64 at sf0.1
    # scale (epoch seconds would overflow n·Sxy); the two divisions at
    # the end are the only float ops.
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS xs,
             CAST(round(value*100,0) AS BIGINT) AS y
      FROM events),
    b AS (
      SELECT event_type, (xs - MIN(xs) OVER (PARTITION BY event_type)) // 60 AS x, y
      FROM e),
    m AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(x*y) AS sxy
      FROM b GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(CAST(n*sxy - sx*sy AS DOUBLE)
                 / CAST(n*sxx - sx*sx AS DOUBLE) / 100.0, 9) AS slope_per_min,
           round((CAST(sy AS DOUBLE) / n
                  - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / n)) / 100.0, 9) AS intercept
    FROM m
    """,
)
def agg_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series trend line (closed-form OLS of value on time): the
    five moments (n, Σx, Σy, Σx², Σxy) come from ONE mergeable hash
    aggregate over exact integers — at 100 TB trend fitting over a
    million series is a single map-side-combining scan, no ML library
    and no iterative solver. x is minutes since each series' start
    (keeps every int64 product in range AND makes the intercept the
    series' fitted starting value); slope is cents/minute → value units
    via the final /100."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").alias("xs"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("y"),
    )
    b = e.withColumn("x", F.expr("(xs - min(xs) OVER (PARTITION BY event_type)) div 60"))
    m = b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") / F.col("n")
        - slope * (F.col("sx").cast("double") / F.col("n"))
    )
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        round_dp(slope / 100.0).alias("slope_per_min"),
        round_dp(intercept / 100.0).alias("intercept"),
    )


@query(
    "agg_dau_mau",
    # DAU/MAU stickiness (the product-engagement ratio): daily distinct
    # users over the calendar month's distinct users. Both cardinalities
    # are exact; the ratio is one float division of two int64s.
    oracle="""
    WITH d AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                      strftime(CAST(ts AS DATE), '%Y-%m') AS month,
                      user_id
               FROM events),
    dau AS (SELECT day, month, COUNT(DISTINCT user_id) AS dau FROM d GROUP BY day, month),
    mau AS (SELECT month, COUNT(DISTINCT user_id) AS mau FROM d GROUP BY month)
    SELECT dau.day, dau.dau, mau.mau,
           round(CAST(dau.dau AS DOUBLE) / mau.mau, 9) AS stickiness
    FROM dau JOIN mau ON dau.month = mau.month
    """,
)
def agg_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: two exact distinct-count aggregates
    (day grain and month grain — the month one is NOT derivable from
    daily partials because distinct doesn't sum, which is exactly why
    agg_hll_sketch / agg_bitmap_distinct exist as the mergeable
    alternatives at 100 TB) joined on month via broadcast. The
    registered query keeps the exact form; the sketch ops are its
    scale path."""
    e = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "user_id"
    )
    d = e.select(
        F.col("d").cast("string").alias("day"),
        F.date_format("d", "yyyy-MM").alias("month"),
        "user_id",
    )
    dau = d.groupBy("day", "month").agg(F.countDistinct("user_id").alias("dau"))
    mau = d.groupBy("month").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(F.broadcast(mau), "month")
        .select(
            "day",
            "dau",
            "mau",
            round_dp(F.col("dau").cast("double") / F.col("mau")).alias("stickiness"),
        )
    )


@query(
    "agg_iqr_outliers",
    # Tukey-fence outlier screening per group: rank-based q1/q3 (type-1
    # quantile picks — no interpolation, so the quartiles are actual
    # data values and everything stays exact int64; fences use 4x-scaled
    # integers to absorb the 1.5 factor), then one conditional count.
    oracle="""
    WITH e AS (SELECT event_type, event_id,
                      CAST(round(value*100,0) AS BIGINT) AS c FROM events),
    r AS (SELECT event_type, c,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM e),
    q AS (SELECT event_type,
                 MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN c END) AS q1,
                 MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN c END) AS q3,
                 MAX(n) AS n
          FROM r GROUP BY event_type)
    SELECT e.event_type, CAST(q.n AS BIGINT) AS n,
           q.q1 / 100.0 AS q1, q.q3 / 100.0 AS q3,
           COUNT(CASE WHEN 4*e.c < 4*q.q1 - 6*(q.q3 - q.q1)
                        OR 4*e.c > 4*q.q3 + 6*(q.q3 - q.q1) THEN 1 END) AS n_outliers
    FROM e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type, q.n, q.q1, q.q3
    """,
)
def agg_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier screening (the box-plot rule, the data-quality
    screen run before training on any numeric column): q1/q3 as exact
    rank picks (type-1 quantiles — actual data values, no
    interpolation), fences at q1−1.5·IQR / q3+1.5·IQR evaluated in
    4×-scaled integers so even the 1.5 factor stays exact int64. Two
    passes: one within-group sort for the rank picks, one broadcast
    join + conditional count for the screen — at 100 TB the second pass
    is a map-side-combining scan against a |groups|-row fence table."""
    e = load(spark, sf_dir, "events").select(
        "event_type", "event_id", F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c")
    )
    w_rn = Window.partitionBy("event_type").orderBy("c", "event_id")
    w_n = Window.partitionBy("event_type")
    r = e.withColumn("rn", F.row_number().over(w_rn)).withColumn(
        "n", F.count(F.lit(1)).over(w_n)
    )
    q = r.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.25 * F.col("n")).cast("bigint"), F.col("c")
            )
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.75 * F.col("n")).cast("bigint"), F.col("c")
            )
        ).alias("q3"),
        F.max("n").alias("n"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n", "q1", "q3")
        .agg(
            F.count(
                F.when(
                    (4 * F.col("c") < 4 * F.col("q1") - 6 * iqr)
                    | (4 * F.col("c") > 4 * F.col("q3") + 6 * iqr),
                    1,
                )
            ).alias("n_outliers")
        )
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        (F.col("q1") / 100.0).alias("q1"),
        (F.col("q3") / 100.0).alias("q3"),
        "n_outliers",
    )


@query(
    "time_pct_change",
    # Period-over-period change (the BI staple): daily revenue per type,
    # then day-over-day delta and % change via lag. Daily sums are exact
    # int64 cents; the single division is rounded 9dp.
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             SUM(CAST(round(value*100,0) AS BIGINT)) AS rev_c
      FROM events GROUP BY event_type, CAST(CAST(ts AS DATE) AS VARCHAR)),
    l AS (SELECT event_type, day, rev_c,
                 lag(rev_c) OVER (PARTITION BY event_type ORDER BY day) AS prev_c
          FROM d)
    SELECT event_type, day, rev_c / 100.0 AS revenue,
           (rev_c - prev_c) / 100.0 AS delta,
           round(CAST(rev_c - prev_c AS DOUBLE) / prev_c, 9) AS pct_change
    FROM l WHERE prev_c IS NOT NULL AND prev_c > 0
    """,
)
def time_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue change per series: the rollup shrinks the
    fact table to |days|×|types| rows FIRST, so the lag window sorts
    the tiny aggregate, never the events — at 100 TB the window input
    is thousands of rows regardless of tick volume (ordering by the
    day string is safe: ISO dates sort lexicographically). Deltas are
    exact integer cents; the one division is 9dp-rounded."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
    )
    d = e.groupBy("event_type", "day").agg(F.sum("c").alias("rev_c"))
    w = Window.partitionBy("event_type").orderBy("day")
    l = d.withColumn("prev_c", F.lag("rev_c").over(w))
    return (
        l.filter(F.col("prev_c").isNotNull() & (F.col("prev_c") > 0))
        .select(
            "event_type",
            "day",
            (F.col("rev_c") / 100.0).alias("revenue"),
            ((F.col("rev_c") - F.col("prev_c")) / 100.0).alias("delta"),
            round_dp(
                (F.col("rev_c") - F.col("prev_c")).cast("double") / F.col("prev_c")
            ).alias("pct_change"),
        )
    )


@query(
    "agg_new_returning",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
               FROM events),
    f AS (SELECT user_id, day,
                 MIN(day) OVER (PARTITION BY user_id) AS first_day
          FROM d)
    SELECT day,
           COUNT(CASE WHEN day = first_day THEN 1 END) AS new_users,
           COUNT(CASE WHEN day <> first_day THEN 1 END) AS returning_users
    FROM f GROUP BY day
    """,
)
def agg_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning users per day (the acquisition/retention split
    every growth dashboard leads with): dedupe to (user, day), window
    min gives each user's first day, one conditional-count agg splits
    the cohorts. The user_id shuffle is shared by the window and the
    dedupe (same key), so the whole metric costs one shuffle of the
    distinct pairs — |users|×|active days|, not |events|."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").cast("string").alias("day")
    )
    d = e.distinct()
    w = Window.partitionBy("user_id")
    f = d.withColumn("first_day", F.min("day").over(w))
    return f.groupBy("day").agg(
        F.count(F.when(F.col("day") == F.col("first_day"), 1)).alias("new_users"),
        F.count(F.when(F.col("day") != F.col("first_day"), 1)).alias(
            "returning_users"
        ),
    )


@query(
    "agg_cohort_ltv",
    # Cumulative-revenue-per-user by cohort age: the LTV curve every
    # retention dashboard pairs with win_retention_cohort's activity
    # matrix. All masses exact int64 cents; the running sum windows over
    # the tiny (cohort × age) aggregate, never the fact.
    oracle="""
    WITH first_day AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    ),
    sz AS (SELECT cohort_day, COUNT(*) AS n_users FROM first_day GROUP BY 1),
    rev AS (
      SELECT f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS age,
             SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS cents
      FROM events e JOIN first_day f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT CAST(r.cohort_day AS VARCHAR) AS cohort_day,
           CAST(r.age AS BIGINT) AS age, s.n_users,
           CAST(SUM(r.cents) OVER (PARTITION BY r.cohort_day ORDER BY r.age
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_cents,
           CAST(ROUND(CAST(SUM(r.cents) OVER (PARTITION BY r.cohort_day
                 ORDER BY r.age ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                 ROW) AS DOUBLE) / (100.0 * s.n_users), 9) AS DOUBLE)
             AS ltv_per_user
    FROM rev r JOIN sz s ON r.cohort_day = s.cohort_day
    """,
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTV curve: cumulative purchase revenue per user by cohort age
    (users cohorted on first-ever event day). Plan: first-touch day is
    one hash agg to a |users|-sized table (a window-MIN variant was
    measured to duplicate the fact window across the size/revenue
    branches); the purchase-filtered fact joins it on user_id (AQE
    broadcasts at small scale, co-shuffles at large) and collapses to
    the (cohort × age) grid in one partial-agg pass; the cumulative
    window and the cohort-size broadcast join run over that grid
    (≤ days² rows). cum_cents stays exact int64; the per-user
    normalization is one double division."""
    e = load(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    sz = first_day.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    rev = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
        )
        .join(first_day, "user_id")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").alias("age"))
        .agg(F.sum("cents").alias("cents"))
    )
    w_cum = (
        Window.partitionBy("cohort_day")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(F.broadcast(sz), "cohort_day")
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.col("age").cast("bigint").alias("age"),
            "n_users",
            F.sum("cents").over(w_cum).alias("cum_cents"),
            round_dp(
                F.sum("cents").over(w_cum).cast("double")
                / (100.0 * F.col("n_users")),
            ).alias("ltv_per_user"),
        )
    )


@query(
    "agg_pareto",
    # Revenue-concentration (Pareto/80-20) readout: customers bucketed by
    # BROADCAST revenue-decile boundaries (exact interpolated
    # percentiles of per-customer cents — the agg_rfm_segments shape,
    # never a global ntile sort), then per-bucket customer counts,
    # revenue mass, and top-down cumulative share. Revenue exact int64
    # cents; shares single divisions of exact ints over the 10-row grid.
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    q AS (
      SELECT quantile_cont(cents, 0.1) q1, quantile_cont(cents, 0.2) q2,
             quantile_cont(cents, 0.3) q3, quantile_cont(cents, 0.4) q4,
             quantile_cont(cents, 0.5) q5, quantile_cont(cents, 0.6) q6,
             quantile_cont(cents, 0.7) q7, quantile_cont(cents, 0.8) q8,
             quantile_cont(cents, 0.9) q9
      FROM rev
    ),
    b AS (
      SELECT 10 - (CAST(cents > q.q1 AS INT) + CAST(cents > q.q2 AS INT)
                 + CAST(cents > q.q3 AS INT) + CAST(cents > q.q4 AS INT)
                 + CAST(cents > q.q5 AS INT) + CAST(cents > q.q6 AS INT)
                 + CAST(cents > q.q7 AS INT) + CAST(cents > q.q8 AS INT)
                 + CAST(cents > q.q9 AS INT)) AS decile,
             cents
      FROM rev CROSS JOIN q
    ),
    g AS (
      SELECT decile, COUNT(*) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM b GROUP BY decile
    ),
    t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM g)
    SELECT decile, n_customers,
           CAST(ROUND(cents / 100.0, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(SUM(cents) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / t.total, 9) AS DOUBLE) AS cum_share
    FROM g CROSS JOIN t
    """,
)
def agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration curve (the Pareto/80-20 board slide):
    customers fall into revenue deciles — decile 1 = highest spenders —
    with per-decile headcount, revenue, and top-down cumulative share
    (read: 'decile 1's cum_share of revenue comes from 10% of
    customers').

    Deliberately boundary-broadcast, not ntile: nine exact interpolated
    percentile scalars broadcast back for comparison-based bucketing
    (the only shape that survives 10^9 customers; a global ntile is a
    single-partition sort). Revenue exact int64 cents; the cumulative
    window runs over the 10-row decile grid only."""
    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)")).alias(
            "cents"
        )
    )
    q = rev.agg(
        *[
            F.percentile("cents", F.lit(i / 10)).alias(f"q{i}")
            for i in range(1, 10)
        ]
    )
    decile = F.lit(10)
    for i in range(1, 10):
        decile = decile - (F.col("cents") > F.col(f"q{i}")).cast("int")
    g = (
        rev.crossJoin(F.broadcast(q))
        .select(decile.alias("decile"), "cents")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("cents"),
        )
    )
    t = g.agg(F.sum("cents").alias("total"))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.crossJoin(F.broadcast(t)).select(
        "decile",
        "n_customers",
        round_dp(F.col("cents") / 100.0, 2).alias("revenue"),
        round_dp(
            F.sum("cents").over(w).cast("double") / F.col("total")
        ).alias("cum_share"),
    )


@query(
    "agg_benford",
    # Benford first-significant-digit audit per event_type. cents =
    # ROUND(value*100) shifts the decimal without changing significant
    # digits, so digit = first char of the exact int64 — no float log
    # tricks. Expected Benford mass log10(1+1/d) is rounded 9dp the
    # instant it is computed; the chi-square sum folds per-digit terms
    # in ascending-digit order (order-canonical float fold).
    oracle="""
    WITH cells AS (
      SELECT event_type,
             CAST(substr(CAST(CAST(ROUND(value * 100, 0) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             COUNT(*) AS n
      FROM events WHERE value >= 0.01
      GROUP BY 1, 2),
    tot AS (
      SELECT event_type, digit, n,
             SUM(n) OVER (PARTITION BY event_type) AS total
      FROM cells),
    terms AS (
      SELECT event_type, digit, n, total,
             CAST(ROUND(LOG10(1.0 + 1.0 / digit), 9) AS DOUBLE) AS expected,
             POW(n - total * CAST(ROUND(LOG10(1.0 + 1.0 / digit), 9) AS DOUBLE), 2)
               / (total * CAST(ROUND(LOG10(1.0 + 1.0 / digit), 9) AS DOUBLE))
               AS term
      FROM tot),
    chi AS (
      SELECT event_type,
             CAST(ROUND(list_aggregate(list(term ORDER BY digit), 'sum'), 9)
                  AS DOUBLE) AS chi_square
      FROM terms GROUP BY event_type)
    SELECT t.event_type, t.digit, CAST(t.n AS BIGINT) AS n,
           CAST(ROUND(t.n * 1.0 / t.total, 9) AS DOUBLE) AS observed_frac,
           t.expected, c.chi_square
    FROM terms t JOIN chi c ON t.event_type = c.event_type
    """,
)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit — the classic fraud / data-fabrication screen:
    per event_type, the first-significant-digit distribution of value vs
    the Benford expectation log10(1+1/d), with the per-type chi-square
    statistic attached to every digit row. Exact digit extraction: cents
    is an exact int64 whose decimal shift preserves significant digits,
    so the digit is substring(cast(cents)), never a float log/pow dance.

    Scale shape: ONE map-side-combinable hash agg collapses the fact to
    ≤|types|·9 cells; everything after (per-type total, expected mass,
    chi-square) is windows over that tiny grid. The chi-square fold is
    order-canonical (array_sort by digit before the float fold), so the
    9-term double sum is bit-stable regardless of partitioning."""
    e = load(spark, sf_dir, "events").filter(F.col("value") >= 0.01)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    cells = (
        e.select(
            "event_type",
            F.substring(cents.cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit"),
        )
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_t = Window.partitionBy("event_type")
    expected = round_dp(F.log10(1.0 + 1.0 / F.col("digit")))
    t = cells.select(
        "event_type",
        "digit",
        "n",
        F.sum("n").over(w_t).alias("total"),
    ).select(
        "event_type",
        "digit",
        "n",
        "total",
        expected.alias("expected"),
        (
            F.pow(F.col("n") - F.col("total") * expected, 2)
            / (F.col("total") * expected)
        ).alias("term"),
    )
    chi = round_dp(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("digit", "term")).over(w_t)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ),
    )
    return t.select(
        "event_type",
        "digit",
        F.col("n").cast("bigint").alias("n"),
        round_dp(F.col("n") / F.col("total"))
        .cast("double")
        .alias("observed_frac"),
        F.col("expected").cast("double").alias("expected"),
        chi.cast("double").alias("chi_square"),
    )


_EQD_BUCKETS = 8


@query(
    "agg_histogram_equidepth",
    # Equi-depth histogram (the optimizer-statistics shape: ANALYZE
    # builds exactly this): 7 interpolated octile BOUNDARIES from one
    # exact-int64-cents percentile agg, broadcast back; bucket = count
    # of boundaries below the value (comparison arithmetic, exact);
    # per-bucket count/lo/hi. Same boundary-broadcast posture as
    # agg_rfm_segments/agg_pareto — never a global ntile sort.
    oracle=f"""
    WITH c AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders),
    q AS (
      SELECT {", ".join(
        f"quantile_cont(cents, {k}.0/{_EQD_BUCKETS}) AS q{k}"
        for k in range(1, _EQD_BUCKETS))}
      FROM c)
    SELECT CAST(1 {" ".join(
        f"+ CASE WHEN c.cents > q.q{k} THEN 1 ELSE 0 END"
        for k in range(1, _EQD_BUCKETS))} AS INTEGER) AS bucket,
           COUNT(*) AS n_orders,
           CAST(MIN(c.cents) AS BIGINT) AS lo_cents,
           CAST(MAX(c.cents) AS BIGINT) AS hi_cents
    FROM c CROSS JOIN q
    GROUP BY bucket
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram — the other histogram every engine's
    statistics collector builds (equi-WIDTH is agg_histogram): buckets
    hold ~equal row counts, so boundaries are the octiles. The 7
    interpolated percentile boundaries come from ONE aggregate row and
    broadcast back for comparison-based assignment — deliberately NOT
    ntile (a global single-partition sort); this is the only shape that
    survives 10⁹ rows, and it is exactly how ANALYZE TABLE computes
    equi-height column stats. Cents exact int64; interpolated
    boundaries are doubles of exact halves, bit-identical cross-engine.

    Scale shape: percentile agg (one pass) + broadcast 1-row join +
    map-side-combinable hash agg. Nothing sorts globally; nothing
    shuffles except the two aggs."""
    o = load(spark, sf_dir, "orders")
    # fan both passes (percentile partials, bucket-assign map) out of
    # the single input split (orders ships as one row group locally;
    # guide §2.5) — the exchange carries one bigint per row
    c = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents")
    ).repartition(spark.sparkContext.defaultParallelism)
    # ONE array-percentile instead of 7 scalar ones: each scalar
    # F.percentile maintains (and single-task-merges) its OWN copy of
    # the full value buffer — the array form accumulates one buffer
    # and reads all 7 boundaries from it (7x less partial/merge work)
    q = c.agg(
        F.percentile(
            "cents",
            F.array(
                *[F.lit(k / _EQD_BUCKETS) for k in range(1, _EQD_BUCKETS)]
            ),
        ).alias("qs")
    ).select(*[F.col("qs")[k - 1].alias(f"q{k}") for k in range(1, _EQD_BUCKETS)])
    bucket = F.lit(1)
    for k in range(1, _EQD_BUCKETS):
        bucket = bucket + (F.col("cents") > F.col(f"q{k}")).cast("int")
    return (
        c.crossJoin(F.broadcast(q))
        .select(bucket.cast("int").alias("bucket"), "cents")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").cast("bigint").alias("lo_cents"),
            F.max("cents").cast("bigint").alias("hi_cents"),
        )
    )


@query(
    "agg_mutual_info",
    # Mutual information between event_type and hour-of-day (is usage
    # time-of-day dependent, in nats): one hash agg to the ≤|types|·24
    # contingency grid; margins via windows over the grid; per-cell PMI
    # ln-term rounded 9dp at birth; the MI total folds cells in
    # ascending (x, y) order — order-canonical, never a partition-order
    # float sum.
    oracle="""
    WITH cells AS (
      SELECT event_type AS x, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS y,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT x, y, n,
             SUM(n) OVER (PARTITION BY x) AS nx,
             SUM(n) OVER (PARTITION BY y) AS ny,
             SUM(n) OVER () AS nt
      FROM cells),
    terms AS (
      SELECT x, y, n, nt,
             CAST(ROUND(LN((n * 1.0 * nt) / (nx * 1.0 * ny)), 9) AS DOUBLE)
               AS pmi,
             (n * 1.0 / nt) *
               CAST(ROUND(LN((n * 1.0 * nt) / (nx * 1.0 * ny)), 9) AS DOUBLE)
               AS term
      FROM m),
    tot AS (
      SELECT CAST(ROUND(list_aggregate(
               list(term ORDER BY x, y), 'sum'), 9) AS DOUBLE) AS mi
      FROM terms)
    SELECT t.x AS event_type, t.y AS hour, CAST(t.n AS BIGINT) AS n,
           t.pmi, tt.mi AS mi_total
    FROM terms t CROSS JOIN tot tt
    """,
)
def agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; hour-of-day) — the dependence
    screen behind feature selection and drift detection: how many nats
    does knowing the hour tell you about what users do. Per-cell
    pointwise MI (PMI) is attached to every contingency cell, with the
    corpus-level MI total on each row.

    Scale shape: ONE map-side-combinable hash agg collapses the fact to
    the ≤|types|·24 contingency grid; margins, PMI, and the
    order-canonical MI fold all run on that grid (windows + one ≤120
    element ascending-(x,y) float fold). The fact shuffles once."""
    e = load(spark, sf_dir, "events")
    cells = (
        e.select(
            F.col("event_type").alias("x"),
            F.hour("ts").cast("bigint").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    m = cells.select(
        "x",
        "y",
        "n",
        F.sum("n").over(Window.partitionBy("x")).alias("nx"),
        F.sum("n").over(Window.partitionBy("y")).alias("ny"),
        F.sum("n").over(w_all).alias("nt"),
    )
    pmi = round_dp(
        F.log(
            (F.col("n") * 1.0 * F.col("nt"))
            / (F.col("nx") * 1.0 * F.col("ny"))
        ),
    )
    terms = m.select(
        "x",
        "y",
        "n",
        "nt",
        pmi.cast("double").alias("pmi"),
        ((F.col("n") * 1.0 / F.col("nt")) * pmi).alias("term"),
    )
    mi = round_dp(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("x", "y", "term")).over(w_all)
            ),
            F.lit(0.0),
            lambda acc, t: acc + t["term"],
        ),
    )
    return terms.select(
        F.col("x").alias("event_type"),
        F.col("y").alias("hour"),
        F.col("n").cast("bigint").alias("n"),
        "pmi",
        mi.cast("double").alias("mi_total"),
    )


@query(
    "agg_anova_f",
    # One-way ANOVA F across event_type groups on exact int64 cents:
    # per-group (n, s, ss) exact moments in one hash agg; SSB/SSW built
    # from s_g^2/n_g terms — each a double division of exact ints —
    # folded over the <=|types| groups in ascending-type order
    # (order-canonical); F is one arithmetic expression, rounded 9dp.
    oracle="""
    WITH g AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
                      * CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS ss
      FROM events GROUP BY event_type),
    t AS (
      SELECT COUNT(*) AS k,
             CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(s) AS BIGINT) AS st,
             CAST(SUM(ss) AS BIGINT) AS sst,
             list_aggregate(list(s * 1.0 * s / n ORDER BY event_type), 'sum')
               AS between_raw
      FROM g)
    SELECT CAST(k AS BIGINT) AS k_groups, nt AS n_total,
           CAST(ROUND(between_raw - st * 1.0 * st / nt, 9) AS DOUBLE) AS ss_between,
           CAST(ROUND(sst - between_raw, 9) AS DOUBLE) AS ss_within,
           CAST(ROUND(((between_raw - st * 1.0 * st / nt) / (k - 1))
                      / ((sst - between_raw) / (nt - k)), 9) AS DOUBLE) AS f_stat
    FROM t
    """,
)
def agg_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types on transaction value — the
    k-group generalization of agg_ab_ttest (do the segment means differ
    at all, before pairwise tests): F = (SSB/(k−1)) / (SSW/(N−k)) from
    the standard moment decomposition SSB = Σ s_g²/n_g − S²/N,
    SSW = ΣSS − Σ s_g²/n_g.

    Scale shape: ONE map-side-combinable hash agg produces per-group
    exact int64 moments; everything after runs on the ≤|types|-row
    group table — the s_g²/n_g float terms (each a double division of
    exact ints) fold in ascending-type order, so the statistic is
    bit-stable at any parallelism. s_g² demands the documented int64
    headroom (cents² · rows < 2⁶³ — rescale units past that, same
    contract as time_acf)."""
    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).cast("bigint").alias("s"),
        F.sum(cents * cents).cast("bigint").alias("ss"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("ss").cast("bigint").alias("sst"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "event_type",
                        (F.col("s") * 1.0 * F.col("s") / F.col("n")).alias(
                            "v"
                        ),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        ).alias("between_raw"),
    )
    ssb = F.col("between_raw") - F.col("st") * 1.0 * F.col("st") / F.col("nt")
    ssw = F.col("sst") - F.col("between_raw")
    return t.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("nt").alias("n_total"),
        round_dp(ssb).cast("double").alias("ss_between"),
        round_dp(ssw).cast("double").alias("ss_within"),
        round_dp((ssb / (F.col("k") - 1)) / (ssw / (F.col("nt") - F.col("k"))))
        .cast("double")
        .alias("f_stat"),
    )


@query(
    "agg_log_histogram",
    # HdrHistogram-style log2-bucketed value summary per event_type:
    # bucket = floor(log2(cents)) computed EXACTLY as the binary-string
    # length minus one (identical in both engines; no float log edge
    # cases); per-type p50/p95/p99 are the LOWER BOUND 2^bucket of the
    # first bucket whose cumulative count crosses the quantile — the
    # HdrHistogram contract (relative error bounded by bucket width).
    # The quantile crossings are exact integer comparisons (2·cum ≥ n,
    # 20·cum ≥ 19·n, 100·cum ≥ 99·n) — no float fractions.
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE value >= 0.01),
    cells AS (
      SELECT event_type,
             CAST(length(bin(cents)) - 1 AS BIGINT) AS bucket,
             COUNT(*) AS n
      FROM c GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bucket, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cm,
             SUM(n) OVER (PARTITION BY event_type) AS nt
      FROM cells)
    SELECT event_type,
           CAST(MAX(nt) AS BIGINT) AS n,
           CAST((1::BIGINT << CAST(MIN(CASE WHEN 2 * cm >= nt
                                       THEN bucket END) AS INT))
                AS BIGINT) AS p50_lo_cents,
           CAST((1::BIGINT << CAST(MIN(CASE WHEN 20 * cm >= 19 * nt
                                       THEN bucket END) AS INT))
                AS BIGINT) AS p95_lo_cents,
           CAST((1::BIGINT << CAST(MIN(CASE WHEN 100 * cm >= 99 * nt
                                       THEN bucket END) AS INT))
                AS BIGINT) AS p99_lo_cents
    FROM cum GROUP BY event_type
    """,
)
def agg_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram percentiles per event_type — the
    HdrHistogram / latency-dashboard shape: constant relative error at
    any value range, and the bucket table is MERGEABLE (summed counts),
    so shards/time-slices roll up without revisiting raw data — the
    property exact percentiles (agg_percentile) lack and fixed-width
    sketches (agg_quantile_sketch) only give at a chosen absolute
    resolution. Buckets come from the int's binary length (exact in
    both engines); p50/p95/p99 are bucket lower bounds 2^bucket with
    exact integer quantile crossings.

    Scale shape: one map-side-combinable hash agg to ≤|types|·64 cells;
    cumulative windows and the min-bucket picks run on that grid. The
    fact shuffles once; the state is 64 int64s per group forever."""
    e = load(spark, sf_dir, "events").filter(F.col("value") >= 0.01)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    cells = (
        e.select(
            "event_type",
            (F.length(F.bin(cents)) - 1).cast("bigint").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = cells.select(
        "event_type",
        "bucket",
        F.sum("n").over(w_cum).alias("cm"),
        F.sum("n").over(w_all).alias("nt"),
    )

    def pick(mult_c: int, mult_n: int) -> F.Column:
        return F.min(
            F.when(
                mult_c * F.col("cm") >= mult_n * F.col("nt"),
                F.col("bucket"),
            )
        )

    picked = cum.groupBy("event_type").agg(
        F.max("nt").cast("bigint").alias("n"),
        pick(2, 1).alias("b50"),
        pick(20, 19).alias("b95"),
        pick(100, 99).alias("b99"),
    )
    return picked.select(
        "event_type",
        "n",
        *[
            F.expr(
                f"CAST(shiftleft(CAST(1 AS BIGINT), CAST({b} AS INT)) AS BIGINT)"
            ).alias(a)
            for b, a in (
                ("b50", "p50_lo_cents"),
                ("b95", "p95_lo_cents"),
                ("b99", "p99_lo_cents"),
            )
        ],
    )


_KS_A, _KS_B = "view", "purchase"


@query(
    "agg_ks_test",
    # Two-sample Kolmogorov-Smirnov D between the 'view' and 'purchase'
    # value distributions: per-cent-value conditional counts collapse
    # the fact to the ≤|distinct cents| grid in one hash agg; ECDFs are
    # cumulative windows over the value-sorted grid; D keeps EXACT
    # integer form max|c1·n2 − c2·n1| until ONE final division. The
    # 5%-level critical value is the only transcendental (sqrt, 9dp).
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             CAST(SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')
      GROUP BY 1),
    cum AS (
      SELECT SUM(a) OVER (ORDER BY cents) AS ca,
             SUM(b) OVER (ORDER BY cents) AS cb,
             SUM(a) OVER () AS na, SUM(b) OVER () AS nb
      FROM v),
    m AS (
      SELECT CAST(MAX(ABS(ca * nb - cb * na)) AS BIGINT) AS num,
             CAST(MAX(na) AS BIGINT) AS na, CAST(MAX(nb) AS BIGINT) AS nb
      FROM cum)
    SELECT na AS n_{_KS_A}, nb AS n_{_KS_B},
           CAST(ROUND(num * 1.0 / (na * nb), 9) AS DOUBLE) AS d_stat,
           CAST(ROUND(1.358 * SQRT((na + nb) * 1.0 / (na * nb)), 9)
                AS DOUBLE) AS crit_05,
           num * 1.0 / (na * nb) >
             ROUND(1.358 * SQRT((na + nb) * 1.0 / (na * nb)), 9) AS reject_05
    FROM m
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the view and purchase
    value distributions — the nonparametric distribution-drift check
    (data-drift monitors and A/B sanity checks both reduce to it;
    complements agg_ab_ttest, which only compares means). D = sup
    |ECDF_a − ECDF_b| stays an exact integer maximum (|c1·n2 − c2·n1|)
    until one final division, so the statistic is bit-stable at any
    parallelism; the asymptotic 5% critical value 1.358·√((n1+n2)/n1n2)
    is the lone transcendental, rounded 9dp.

    Scale shape: one map-side-combinable hash agg to the ≤|distinct
    values| grid, cumulative windows over that grid (value domains are
    bounded by price grids in practice), a 1-row max. The fact shuffles
    once; nothing ever sorts raw rows."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B)
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    v = e.select(cents.alias("cents"), "event_type").groupBy("cents").agg(
        F.sum(F.when(F.col("event_type") == _KS_A, 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == _KS_B, 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = v.select(
        F.sum("a").over(w_cum).alias("ca"),
        F.sum("b").over(w_cum).alias("cb"),
        F.sum("a").over(w_all).alias("na"),
        F.sum("b").over(w_all).alias("nb"),
    )
    m = cum.agg(
        F.max(
            F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
        )
        .cast("bigint")
        .alias("num"),
        F.max("na").cast("bigint").alias("na"),
        F.max("nb").cast("bigint").alias("nb"),
    )
    d = F.col("num") / (F.col("na") * F.col("nb"))
    crit = round_dp(
        1.358
        * F.sqrt((F.col("na") + F.col("nb")) / (F.col("na") * F.col("nb"))),
    )
    return m.select(
        F.col("na").alias(f"n_{_KS_A}"),
        F.col("nb").alias(f"n_{_KS_B}"),
        round_dp(d).cast("double").alias("d_stat"),
        crit.cast("double").alias("crit_05"),
        (d > crit).alias("reject_05"),
    )


@query(
    "agg_mad_outliers",
    # Robust outlier screen per event_type: median and MAD (median of
    # |x − median|) replace mean/stdev — a single wild value cannot
    # drag the gate (50% breakdown point vs 0% for z-scores, the reason
    # monitoring pipelines prefer MAD). Two grouped percentile passes
    # on exact int64 cents; the interpolated medians are doubles of
    # exact halves; the 3.5-MAD outlier count compares
    # |x − med| · 1 vs 3.5 · mad on exact inputs (one multiply each).
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS med
      FROM c GROUP BY event_type),
    dev AS (
      SELECT c.event_type, c.cents, ABS(c.cents - m.med) AS adev, m.med
      FROM c JOIN med m ON c.event_type = m.event_type),
    mad AS (
      SELECT event_type, MIN(med) AS med,
             quantile_cont(adev, 0.5) AS mad, COUNT(*) AS n
      FROM dev GROUP BY event_type)
    SELECT d.event_type, CAST(MIN(m.n) AS BIGINT) AS n,
           CAST(ROUND(MIN(m.med), 9) AS DOUBLE) AS median_cents,
           CAST(ROUND(MIN(m.mad), 9) AS DOUBLE) AS mad_cents,
           CAST(SUM(CASE WHEN d.adev > 3.5 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per event_type — the
    ROBUST sibling of win_anomaly_zscore and agg_iqr_outliers: median
    and MAD have a 50% breakdown point, so a tail of corrupt values
    cannot widen its own gate (the failure mode that makes z-score
    monitors go blind during incidents). Counts values beyond the
    conventional 3.5·MAD fence.

    Scale shape: two grouped percentile passes over exact int64 cents
    (median, then median of |x−median| after a BROADCAST median join) +
    one counting pass reusing the same broadcast — the fact shuffles
    only for the ≤|types|-group percentile sorts; at corpus scale both
    medians degrade to percentile_approx, fences unchanged (documented
    like agg_percentile)."""
    e = load(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    med = c.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    dev = c.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("cents") - F.col("med")).alias("adev"),
        "med",
    )
    mad = dev.groupBy("event_type").agg(
        F.min("med").alias("med"),
        F.percentile("adev", F.lit(0.5)).alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        dev.join(
            F.broadcast(
                mad.select(
                    F.col("event_type").alias("et"), "mad", "n",
                    F.col("med").alias("med2"),
                )
            ),
            F.col("event_type") == F.col("et"),
        )
        .groupBy("event_type")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            round_dp(F.min("med2")).cast("double").alias("median_cents"),
            round_dp(F.min("mad")).cast("double").alias("mad_cents"),
            F.sum(
                F.when(F.col("adev") > 3.5 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


_CHI2_EXACT_N = 46340  # floor(sqrt(2^31)): N*O <= 2^31 keeps num^2 in int64


@query(
    "agg_chi_square",
    # Chi-squared test of independence on the lang x source contingency
    # table: per-cell term = (N*O - r*c)^2 / (N*r*c) — the classic
    # statistic with expected counts cross-multiplied away. For corpora
    # with N <= _CHI2_EXACT_N (46340 = floor(sqrt(2^31)); N*O <= 2^31,
    # numerator square < 2^63) the numerator is EXACT int64 and the
    # only float op per cell is one division, rounded 9dp. Beyond that
    # bound both engines switch — via the identical CASE — to the same
    # double-precision numerator instead of silently wrapping int64
    # (the r7 ADVICE finding). The statistic total re-quantizes rounded
    # terms to nano-units so the window sum is order-independent;
    # dof = (R-1)(C-1) from window counts.
    oracle=f"""
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source),
    tot AS (
      SELECT lang, source, o,
             SUM(o) OVER (PARTITION BY lang) AS r,
             SUM(o) OVER (PARTITION BY source) AS c,
             SUM(o) OVER () AS n,
             COUNT(DISTINCT lang) OVER () AS nr,
             COUNT(DISTINCT source) OVER () AS nc
      FROM obs),
    term AS (
      SELECT lang, source, o, nr, nc,
             CAST(ROUND(r * c * 1.0 / n, 9) AS DOUBLE) AS expected,
             CASE WHEN n <= {_CHI2_EXACT_N}
                  THEN ROUND((n * o - r * c) * (n * o - r * c) * 1.0
                             / (n * r * c), 9)
                  ELSE ROUND((n * 1.0 * o - r * 1.0 * c)
                             * (n * 1.0 * o - r * 1.0 * c)
                             / (n * 1.0 * r * c), 9)
             END AS chi2_term
      FROM tot)
    SELECT lang, source, o AS observed, expected,
           CAST(chi2_term AS DOUBLE) AS chi2_term,
           CAST(ROUND(SUM(CAST(ROUND(chi2_term * 1e9, 0) AS BIGINT))
                        OVER () / 1e9, 9) AS DOUBLE) AS chi2_total,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof
    FROM term
    """,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test on the lang × source contingency
    table — 'is corpus language independent of the crawl source?', the
    categorical counterpart to agg_anova_f (numeric) and
    agg_mutual_info (information-theoretic) in the statistics battery.
    Expected counts are cross-multiplied away: term =
    (N·O − r·c)² / (N·r·c), numerator exact int64 up to N ≤ 46340
    (past that, BOTH engines switch via the identical CASE to the same
    double-precision numerator — graceful precision loss instead of a
    silent int64 wrap), ONE double division per cell rounded 9dp; the
    statistic is the nano-quantized window sum (order-independent),
    dof = (R−1)(C−1).

    Scale shape: one hash agg to R·C cells (bounded by the category
    product, not the corpus), then windows over that tiny grid. Row and
    column marginals come from windows instead of two extra aggregates
    + joins — the cell grid shuffles once."""
    d = load(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_r = Window.partitionBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_c = Window.partitionBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = obs.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(w_r).alias("r"),
        F.sum("o").over(w_c).alias("c"),
        F.sum("o").over(w_all).alias("n"),
        F.size(F.collect_set("lang").over(w_all)).cast("bigint").alias("nr"),
        F.size(F.collect_set("source").over(w_all)).cast("bigint").alias("nc"),
    )
    num = F.col("n") * F.col("o") - F.col("r") * F.col("c")
    # double-precision numerator past the exact-int bound — the operand
    # order mirrors the oracle's CASE branch exactly (n·1.0·o − r·1.0·c)
    num_d = (
        F.col("n") * F.lit(1.0) * F.col("o")
        - F.col("r") * F.lit(1.0) * F.col("c")
    )
    term = tot.select(
        "lang",
        "source",
        "o",
        "nr",
        "nc",
        round_dp(F.col("r") * F.col("c") / F.col("n"))
        .cast("double")
        .alias("expected"),
        F.when(
            F.col("n") <= F.lit(_CHI2_EXACT_N),
            round_dp(num * num / (F.col("n") * F.col("r") * F.col("c"))),
        )
        .otherwise(
            round_dp(
                num_d * num_d / (F.col("n") * F.lit(1.0) * F.col("r") * F.col("c")),
            )
        )
        .alias("chi2_term"),
    )
    return term.select(
        "lang",
        "source",
        F.col("o").alias("observed"),
        "expected",
        F.col("chi2_term").cast("double").alias("chi2_term"),
        round_dp(
            F.sum(F.round(F.col("chi2_term") * 1e9, 0).cast("bigint")).over(
                w_all
            )
            / 1e9,
        )
        .cast("double")
        .alias("chi2_total"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof"),
    )


_BOOT_B = 32  # bootstrap replicates
# Poisson(1) CDF thresholds (9dp literals, identical in both engines):
# inverse-CDF of a deterministic md5 uniform gives each row's replicate
# multiplicity — the Poisson bootstrap (Chamandy et al., the only
# bootstrap that runs in one pass over sharded data).
_BOOT_CDF = (
    (0.367879441, 0),
    (0.735758882, 1),
    (0.919698603, 2),
    (0.981011843, 3),
    (0.996340153, 4),
    (0.999405815, 5),
)
_BOOT_CAP = 6


def _boot_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for c, k in _BOOT_CDF
    )
    return f"CASE {branches} ELSE {_BOOT_CAP} END"


@query(
    "agg_bootstrap_ci",
    # Poisson-bootstrap confidence interval for the per-type mean event
    # value: every (row, replicate) pair draws a deterministic
    # Poisson(1) weight via inverse-CDF on a 48-bit md5 uniform (exact
    # double: 48-bit int / 2^48), replicate means are exact int64
    # weighted ratios rounded 9dp, and the CI is percentile_cont over
    # the 32 replicate means (4dp, the agg_percentile contract).
    oracle=f"""
    WITH e AS (SELECT event_id, event_type,
                      CAST(round(value * 100, 0) AS BIGINT) AS c
               FROM events),
    rep AS (
      SELECT event_type, c, b.k AS b,
             {_boot_case_sql("(CAST(('0x' || substr(md5('bs:' || CAST(event_id AS VARCHAR) || ':' || CAST(b.k AS VARCHAR)), 1, 12)) AS BIGINT) / 281474976710656.0)")}
               AS w
      FROM e CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS k) b),
    means AS (
      SELECT event_type, b,
             ROUND(SUM(w * c) * 1.0 / (100.0 * SUM(w)), 9) AS m
      FROM rep GROUP BY event_type, b HAVING SUM(w) > 0),
    ci AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_replicates,
             CAST(ROUND(quantile_cont(m, 0.025), 4) AS DOUBLE) AS ci_lo,
             CAST(ROUND(quantile_cont(m, 0.975), 4) AS DOUBLE) AS ci_hi
      FROM means GROUP BY event_type),
    pt AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(ROUND(SUM(c) * 1.0 / (100.0 * COUNT(*)), 9) AS DOUBLE)
               AS mean_value
      FROM e GROUP BY event_type)
    SELECT p.event_type, p.n_events, p.mean_value,
           c.ci_lo, c.ci_hi, c.n_replicates
    FROM pt p JOIN ci c ON p.event_type = c.event_type
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the per-event_type mean value — the
    one-pass resampling scheme that works on sharded data (classic
    with-replacement bootstrap needs the global N per draw; Poisson(1)
    multiplicities are independent per row, so each shard resamples
    locally and the replicate sums merge associatively). Weights come
    from an md5 inverse-CDF, so both engines materialize the identical
    resample — no RNG state, stable under resharding.

    Scale shape: the fact explodes x32 in-row (bounded, explicit), then
    ONE map-side-combinable hash agg to the (type, replicate) grid —
    shuffle traffic is B x |types| cells regardless of corpus size; the
    percentile runs on 32-row groups. At 10^12 rows the x32 explode is
    the dominant cost and amortizes across the combine; alternatives
    (jackknife blocks) trade accuracy for one fewer pass."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
    )
    rep = (
        # fan the x32 explode + md5 draws out of the single input split
        # (events ships as ONE row group locally -> the whole 32·N md5
        # map stage otherwise runs on one core; guide §2.5 input skew.
        # At production the scan has thousands of splits and this
        # round-robin of 24-byte rows is noise vs the hash work.)
        e.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "event_type",
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
            "event_id",
        )
    )
    u = (
        hex_int(
            F.md5(
                F.concat(
                    F.lit("bs:"),
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            12,
        ).cast("double")
        / float(16**12)
    )
    w = F.lit(_BOOT_CAP)
    for c, k in reversed(_BOOT_CDF):
        w = F.when(u < F.lit(c), F.lit(k)).otherwise(w)
    means = (
        rep.withColumn("w", w)
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("c")).cast("bigint").alias("swc"),
            F.sum("w").cast("bigint").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            round_dp(F.col("swc") / (100.0 * F.col("sw"))).alias("m"),
        )
    )
    ci = means.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        round_dp(F.percentile("m", F.lit(0.025)), 4).cast("double").alias("ci_lo"),
        round_dp(F.percentile("m", F.lit(0.975)), 4).cast("double").alias("ci_hi"),
    )
    pt = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        round_dp(F.sum("c") / (100.0 * F.count(F.lit(1))))
        .cast("double")
        .alias("mean_value"),
    )
    return pt.join(F.broadcast(ci), "event_type").select(
        "event_type", "n_events", "mean_value", "ci_lo", "ci_hi", "n_replicates"
    )


@query(
    "agg_winsorize",
    # Winsorized and trimmed means per order priority: cut ranks are
    # pure integer (k_lo = n//10 + 1, k_hi = n - n//10), thresholds are
    # the k-th order statistics of exact int64 cents, clamping and both
    # robust means stay integer until one final division each. Rank
    # ties are broken by o_orderkey but cannot affect either statistic
    # (tied rows carry equal values).
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS pri, o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      FROM orders),
    r AS (
      SELECT pri, o_orderkey, c,
             ROW_NUMBER() OVER (PARTITION BY pri ORDER BY c, o_orderkey) AS rk,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM o),
    cuts AS (
      SELECT pri,
             MAX(CASE WHEN rk = n // 10 + 1 THEN c END) AS lo_c,
             MAX(CASE WHEN rk = n - n // 10 THEN c END) AS hi_c
      FROM r GROUP BY pri),
    j AS (SELECT r.*, cuts.lo_c, cuts.hi_c
          FROM r JOIN cuts ON r.pri = cuts.pri)
    SELECT pri AS o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(MAX(lo_c) / 100.0 AS DOUBLE) AS lo_cut,
           CAST(MAX(hi_c) / 100.0 AS DOUBLE) AS hi_cut,
           CAST(ROUND(SUM(c) * 1.0 / (100.0 * MAX(n)), 9) AS DOUBLE)
             AS mean_raw,
           CAST(ROUND(SUM(LEAST(GREATEST(c, lo_c), hi_c)) * 1.0
                      / (100.0 * MAX(n)), 9) AS DOUBLE) AS mean_winsor,
           CAST(ROUND(SUM(CASE WHEN rk > n // 10 AND rk <= n - n // 10
                               THEN c ELSE 0 END) * 1.0
                      / (100.0 * MAX(n - 2 * (n // 10))), 9) AS DOUBLE)
             AS mean_trimmed
    FROM j GROUP BY pri
    """,
)
def agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p10/p90 clamp) and trimmed robust means per order
    priority — the outlier-resistant averages a metrics layer reports
    next to the raw mean. Cut points are DISCRETE order statistics at
    integer ranks (k_lo = n//10 + 1, k_hi = n - n//10), not interpolated
    percentiles: every comparison and sum is exact int64 cents, so both
    engines agree bit-for-bit with no float-threshold edge cases.

    Scale shape: one rank window per group (the exact-order-statistic
    cost, same posture as agg_weighted_median), a tiny per-group cut
    table broadcast back, then a single hash agg. At 10^9 rows per
    group swap the rank window for agg_quantile_sketch cuts (documented
    approx swap); the clamp-and-agg stage is unchanged."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("c"),
    )
    wrk = Window.partitionBy("pri").orderBy("c", "o_orderkey")
    wn = Window.partitionBy("pri")
    r = o.select(
        "pri",
        "c",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn("t", F.expr("n div 10"))  # integer div == DuckDB n // 10
    cuts = r.groupBy("pri").agg(
        F.max(
            F.when(F.col("rk") == F.col("t") + 1, F.col("c"))
        ).alias("lo_c"),
        F.max(
            F.when(F.col("rk") == F.col("n") - F.col("t"), F.col("c"))
        ).alias("hi_c"),
    )
    j = r.join(F.broadcast(cuts), "pri")
    clamped = F.least(F.greatest(F.col("c"), F.col("lo_c")), F.col("hi_c"))
    kept = (F.col("rk") > F.col("t")) & (
        F.col("rk") <= F.col("n") - F.col("t")
    )
    return j.groupBy("pri").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        (F.max("lo_c") / 100.0).cast("double").alias("lo_cut"),
        (F.max("hi_c") / 100.0).cast("double").alias("hi_cut"),
        round_dp(F.sum("c") / (100.0 * F.max("n")))
        .cast("double")
        .alias("mean_raw"),
        round_dp(F.sum(clamped) / (100.0 * F.max("n")))
        .cast("double")
        .alias("mean_winsor"),
        round_dp(
            F.sum(F.when(kept, F.col("c")).otherwise(0))
            / (100.0 * F.max(F.col("n") - 2 * F.col("t"))),
        )
        .cast("double")
        .alias("mean_trimmed"),
    ).withColumnRenamed("pri", "o_orderpriority")


@query(
    "agg_theil_index",
    # Theil T and L inequality indices of customer revenue per
    # mktsegment (decomposable entropy-based siblings of agg_gini):
    # per-customer revenue collapses to exact int64 cents, the group
    # mean is one exact-ratio double, each customer contributes ONE
    # 9dp-rounded term — (c/mu)*ln(c/mu) for T, ln(mu/c) for L, the
    # identical expression order in both engines — and the group totals
    # are nano-quantized order-independent integer sums.
    oracle="""
    WITH cust AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS c
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey),
    m AS (
      SELECT seg, o_custkey, c,
             SUM(c) OVER (PARTITION BY seg) AS s,
             COUNT(*) OVER (PARTITION BY seg) AS n
      FROM cust),
    term AS (
      SELECT seg, n, c,
             ROUND((c / (s * 1.0 / n)) * LN(c / (s * 1.0 / n)), 9) AS tt,
             ROUND(LN((s * 1.0 / n) / c), 9) AS tl
      FROM m)
    SELECT seg AS c_mktsegment,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(ROUND(SUM(c) * 1.0 / (100.0 * MAX(n)), 4) AS DOUBLE)
             AS mean_revenue,
           CAST(ROUND(SUM(CAST(ROUND(tt * 1e9, 0) AS BIGINT))
                      / (MAX(n) * 1e9), 9) AS DOUBLE) AS theil_t,
           CAST(ROUND(SUM(CAST(ROUND(tl * 1e9, 0) AS BIGINT))
                      / (MAX(n) * 1e9), 9) AS DOUBLE) AS theil_l
    FROM term GROUP BY seg
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and mean-log-deviation (Theil L) inequality indices of
    customer revenue per market segment — the entropy-based
    concentration metrics beside agg_gini and agg_pareto, and the ones
    a hierarchy can DECOMPOSE exactly (between-group + within-group
    terms add up, which Gini cannot do — why Theil is the inequality
    metric of record for nested rollups).

    Each customer contributes one 9dp-rounded term built from the
    exact int64 revenue and the group's exact-ratio mean (identical
    expression order in both engines; ln is the single transcendental),
    and the totals are nano-quantized integer sums — order-independent
    at any parallelism, no per-group value lists.

    Scale shape: one (custkey) hash agg, one (segment) window for the
    group moments (swap for a broadcast two-level agg at 10^9
    customers — boundary-broadcast posture, documented), one final
    hash agg. Zero customers are structurally absent (inner join),
    so ln never sees 0."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("bigint")
            .alias("c")
        )
    )
    wseg = Window.partitionBy("seg")
    m = cust.select(
        "seg",
        "c",
        F.sum("c").over(wseg).alias("s"),
        F.count(F.lit(1)).over(wseg).alias("n"),
    )
    mu = F.col("s") * 1.0 / F.col("n")
    term = m.select(
        "seg",
        "n",
        "c",
        round_dp((F.col("c") / mu) * F.log(F.col("c") / mu)).alias("tt"),
        round_dp(F.log(mu / F.col("c"))).alias("tl"),
    )
    return term.groupBy("seg").agg(
        F.max("n").cast("bigint").alias("n_customers"),
        round_dp(F.sum("c") / (100.0 * F.max("n")), 4)
        .cast("double")
        .alias("mean_revenue"),
        round_dp(
            F.sum(F.round(F.col("tt") * 1e9, 0).cast("bigint"))
            / (F.max("n") * F.lit(1e9)),
        )
        .cast("double")
        .alias("theil_t"),
        round_dp(
            F.sum(F.round(F.col("tl") * 1e9, 0).cast("bigint"))
            / (F.max("n") * F.lit(1e9)),
        )
        .cast("double")
        .alias("theil_l"),
    ).withColumnRenamed("seg", "c_mktsegment")


_DID_SPLIT = "2024-01-16"  # fixed calendar pre/post boundary


def _treated() -> F.Column:
    """Treatment arm of the causal estimators: the parity of the first two
    hex digits of md5('t:' || user_id), as each oracle spells out."""
    return (
        hex_int(F.md5(F.concat(F.lit("t:"), F.col("user_id").cast("string"))), 2) % 2
    ).alias("treated")


@query(
    "agg_causal_did",
    # Difference-in-differences per event_type: treatment = md5(user)
    # parity (deterministic assignment), period = fixed calendar split.
    # The 2x2 cell means are exact int64-cents ratios rounded 9dp; the
    # DiD estimate composes the four rounded means; cell variances use
    # the one-pass identity n*Sxx - Sx^2 in HUGEINT/decimal
    # accumulators (exact), and the Welch-style SE sums the four
    # variance/n terms in a FIXED order before the single sqrt.
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             CAST(('0x' || substr(md5('t:' || CAST(user_id AS VARCHAR)), 1, 2))
                  AS BIGINT) % 2 AS treated,
             CASE WHEN CAST(ts AS DATE) < DATE '{_DID_SPLIT}' THEN 0
                  ELSE 1 END AS post,
             CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events),
    cells AS (
      SELECT event_type, treated, post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS HUGEINT) AS s,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx
      FROM e GROUP BY 1, 2, 3),
    m AS (
      SELECT event_type, treated, post, n,
             ROUND(CAST(s AS DOUBLE) / (100.0 * n), 9) AS mean_v,
             CAST(n * sxx - s * s AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1) * n) AS vn
      FROM cells),
    p AS (
      SELECT event_type,
             MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_v END) AS tp,
             MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_v END) AS tq,
             MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_v END) AS cp,
             MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_v END) AS cq,
             MAX(CASE WHEN treated = 1 AND post = 1 THEN vn END) AS v1,
             MAX(CASE WHEN treated = 1 AND post = 0 THEN vn END) AS v2,
             MAX(CASE WHEN treated = 0 AND post = 1 THEN vn END) AS v3,
             MAX(CASE WHEN treated = 0 AND post = 0 THEN vn END) AS v4,
             CAST(SUM(n) AS BIGINT) AS n_events
      FROM m GROUP BY event_type)
    SELECT event_type, n_events,
           CAST(ROUND(tp - tq - cp + cq, 9) AS DOUBLE) AS did,
           CAST(ROUND(SQRT(v1 + v2 + v3 + v4) / 100.0, 9) AS DOUBLE) AS se,
           CAST(ROUND((tp - tq - cp + cq)
                      / (SQRT(v1 + v2 + v3 + v4) / 100.0), 9) AS DOUBLE)
             AS t_stat
    FROM p
    """,
)
def agg_causal_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse causal estimator for
    launch analysis without randomization guarantees: treatment =
    deterministic md5(user) parity, period = fixed calendar split,
    and the parallel-trends-adjusted effect is (T_post - T_pre) -
    (C_post - C_pre) per event_type, with a Welch-style SE from the
    four cell variances.

    Determinism: cell means are exact cents ratios (9dp); variances
    come from the one-pass identity n*Sxx - Sx^2 held in decimal/
    HUGEINT accumulators (exact at any cell mass); the SE sums the
    four variance terms in a fixed order before the single sqrt.

    Scale shape: ONE map-side-combinable hash agg to the |types|x2x2
    cell grid; everything after is arithmetic on <= 4 cells per type.
    The estimator never touches row order — DiD at 10^12 events is
    exactly this plan."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        _treated(),
        F.when(
            F.col("ts").cast("date") < F.lit(_DID_SPLIT).cast("date"), 0
        )
        .otherwise(1)
        .alias("post"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
    )
    cd = F.col("c").cast("decimal(38,0)")
    cells = e.groupBy("event_type", "treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cd).alias("s"),
        F.sum(cd * F.col("c")).alias("sxx"),
    )
    m = cells.select(
        "event_type",
        "treated",
        "post",
        "n",
        round_dp(F.col("s").cast("double") / (100.0 * F.col("n"))).alias(
            "mean_v"
        ),
        (
            (F.col("n") * F.col("sxx") - F.col("s") * F.col("s")).cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1) * F.col("n"))
        ).alias("vn"),
    )

    def cell(tr, po, col):
        return F.max(
            F.when((F.col("treated") == tr) & (F.col("post") == po), F.col(col))
        )

    p = m.groupBy("event_type").agg(
        cell(1, 1, "mean_v").alias("tp"),
        cell(1, 0, "mean_v").alias("tq"),
        cell(0, 1, "mean_v").alias("cp"),
        cell(0, 0, "mean_v").alias("cq"),
        cell(1, 1, "vn").alias("v1"),
        cell(1, 0, "vn").alias("v2"),
        cell(0, 1, "vn").alias("v3"),
        cell(0, 0, "vn").alias("v4"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    did = F.col("tp") - F.col("tq") - F.col("cp") + F.col("cq")
    se = F.sqrt(F.col("v1") + F.col("v2") + F.col("v3") + F.col("v4")) / 100.0
    return p.select(
        "event_type",
        "n_events",
        round_dp(did).cast("double").alias("did"),
        round_dp(se).cast("double").alias("se"),
        round_dp(did / se).cast("double").alias("t_stat"),
    )


@query(
    "agg_cuped",
    # CUPED variance reduction over the purchase experiment: per-user
    # pre-period covariate X and post-period metric Y (exact int64
    # cents, absent periods coalesce to 0), pooled theta =
    # (n*Sxy - Sx*Sy)/(n*Sxx - Sx*Sx) from decimal/HUGEINT
    # cross-moments (exact — the products pass 2^63 at scale), and the
    # per-group adjusted variance via the closed form
    # var(Y - tX) = varY - 2t*cov + t^2*varX — no second pass, no
    # per-user float accumulation anywhere.
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('t:' || CAST(user_id AS VARCHAR)), 1, 2))
                  AS BIGINT) % 2 AS treated,
             CAST(COALESCE(SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_DID_SPLIT}'
                  THEN CAST(round(value * 100, 0) AS BIGINT) END), 0)
               AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '{_DID_SPLIT}'
                  THEN CAST(round(value * 100, 0) AS BIGINT) END), 0)
               AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM u),
    th AS (
      SELECT n AS n_all,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
             CAST(sx AS DOUBLE) / n AS mx_all
      FROM g),
    gg AS (
      SELECT treated,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM u GROUP BY treated),
    v AS (
      SELECT treated, n,
             CAST(sy AS DOUBLE) / n AS my,
             CAST(sx AS DOUBLE) / n AS mx,
             CAST(n * syy - sy * sy AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS vy,
             CAST(n * sxx - sx * sx AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS vx,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS cxy
      FROM gg)
    SELECT v.treated,
           v.n AS n_users,
           CAST(ROUND(v.my / 100.0, 9) AS DOUBLE) AS mean_y,
           CAST(ROUND((v.my - th.theta * (v.mx - th.mx_all)) / 100.0, 9)
             AS DOUBLE) AS mean_y_cuped,
           CAST(ROUND(th.theta, 9) AS DOUBLE) AS theta,
           CAST(ROUND(v.vy / 10000.0, 9) AS DOUBLE) AS var_y,
           CAST(ROUND((v.vy - 2 * th.theta * v.cxy
                       + th.theta * th.theta * v.vx) / 10000.0, 9) AS DOUBLE)
             AS var_y_cuped,
           CAST(ROUND((v.vy - 2 * th.theta * v.cxy
                       + th.theta * th.theta * v.vx) / v.vy, 9) AS DOUBLE)
             AS var_ratio
    FROM v CROSS JOIN th
    """,
)
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data) — the
    industry-standard variance-reduction adjustment for A/B readouts:
    the post-period metric Y is adjusted by theta*(X - E[X]) using the
    pre-period covariate X, cutting variance by corr(X,Y)^2 with zero
    bias. Here per-user purchase revenue, treatment = md5 parity,
    pooled theta = cov(X,Y)/var(X).

    The scale-defining trick: the adjusted variance NEVER requires a
    second pass over adjusted rows — var(Y - tX) = varY - 2t*cov +
    t^2*varX, all from the same exact decimal/HUGEINT cross-moments as
    theta itself (the products exceed 2^63 at production scale, hence
    the wide accumulators). One user-level hash agg + one 2-row group
    agg + a broadcast 1-row theta frame; no driver collect, no
    order-dependent float sum anywhere.

    Determinism: every moment is an exact integer; theta and the
    variance compositions are fixed-order double expressions of those
    exact integers, rounded 9dp."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cents = F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")
    pre = F.col("ts").cast("date") < F.lit(_DID_SPLIT).cast("date")
    u = e.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(pre, cents)), F.lit(0))
        .cast("bigint")
        .alias("x"),
        F.coalesce(F.sum(F.when(~pre, cents)), F.lit(0))
        .cast("bigint")
        .alias("y"),
    ).select(_treated(), "x", "y")
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    g = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(xd * F.col("y")).alias("sxy"),
    )
    th = g.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("theta"),
        (F.col("sx").cast("double") / F.col("n")).alias("mx_all"),
    )
    gg = u.groupBy("treated").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
        F.sum(xd * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    v = gg.select(
        "treated",
        "n",
        (F.col("sy").cast("double") / F.col("n")).alias("my"),
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
        (
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            / (nd * (F.col("n") - 1))
        ).alias("vy"),
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            / (nd * (F.col("n") - 1))
        ).alias("vx"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (nd * (F.col("n") - 1))
        ).alias("cxy"),
    )
    vc = (
        F.col("vy")
        - 2 * F.col("theta") * F.col("cxy")
        + F.col("theta") * F.col("theta") * F.col("vx")
    )
    return v.crossJoin(F.broadcast(th)).select(
        "treated",
        F.col("n").alias("n_users"),
        round_dp(F.col("my") / 100.0).cast("double").alias("mean_y"),
        round_dp(
            (F.col("my") - F.col("theta") * (F.col("mx") - F.col("mx_all")))
            / 100.0,
        )
        .cast("double")
        .alias("mean_y_cuped"),
        round_dp(F.col("theta")).cast("double").alias("theta"),
        round_dp(F.col("vy") / 10000.0).cast("double").alias("var_y"),
        round_dp(vc / 10000.0).cast("double").alias("var_y_cuped"),
        round_dp(vc / F.col("vy")).cast("double").alias("var_ratio"),
    )


# z_{0.025} + z_{0.20} as ONE pre-rounded 9dp literal (the repo's
# pre-rounded-constant posture, cf. ml_ndcg's discount table): 80% power
# at two-sided alpha = 0.05.
_POWER_K = 2.801585219
_POWER_REL_MDE = 0.01  # target relative effect for the sample-size column


@query(
    "agg_power_mde",
    # Experiment power calculator per event_type (the planning
    # companion of agg_causal_did/agg_cuped): observed variance from
    # exact decimal/HUGEINT moments, MDE = K*sqrt(2*var/n_arm) with
    # K the pre-rounded z-sum literal, plus the per-arm sample size
    # needed to detect a 1% relative lift — identical fixed-order
    # float compositions of exact integers in both engines, one sqrt
    # each, rounded 9dp/4dp.
    oracle=f"""
    WITH e AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx
      FROM e GROUP BY event_type),
    v AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) / n AS mean_c,
             CAST(n * sxx - s * s AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS var_c
      FROM g)
    SELECT event_type, n AS n_events,
           CAST(ROUND(mean_c / 100.0, 9) AS DOUBLE) AS mean_value,
           CAST(ROUND(SQRT(var_c) / 100.0, 9) AS DOUBLE) AS sd_value,
           CAST(ROUND({_POWER_K} * SQRT(2.0 * var_c / (n // 2)) / 100.0, 9)
             AS DOUBLE) AS mde_abs,
           CAST(ROUND({_POWER_K} * SQRT(2.0 * var_c / (n // 2)) / mean_c, 9)
             AS DOUBLE) AS mde_rel,
           CAST(ROUND(2.0 * {_POWER_K} * {_POWER_K} * var_c
                      / ({_POWER_REL_MDE} * mean_c * {_POWER_REL_MDE} * mean_c),
                      4) AS DOUBLE) AS n_per_arm_for_1pct
    FROM v
    """,
)
def agg_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power / minimum-detectable-effect calculator per
    event_type — the planning stage of the experimentation suite
    (agg_causal_did and agg_cuped analyze; this answers 'is the test
    worth running'): with the observed variance, an equal-split A/B of
    this population detects MDE = K*sqrt(2*var/n_arm) at 80% power and
    alpha 0.05 (K = z_0.025 + z_0.20 as ONE pre-rounded literal — the
    repo's pre-rounded-constant posture), and the per-arm sample size
    for a 1% relative lift falls out of the same identity inverted.

    Determinism: moments are exact decimal/HUGEINT integer sums;
    every derived number is a fixed-order composition with one sqrt,
    rounded 9dp (4dp for the large sample-size figure). Scale shape:
    ONE map-side-combinable hash agg to |types| cells; everything
    after is per-cell arithmetic."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
    )
    cd = F.col("c").cast("decimal(38,0)")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cd).alias("s"),
        F.sum(cd * F.col("c")).alias("sxx"),
    )
    mean_c = F.col("s").cast("double") / F.col("n")
    var_c = (
        (F.col("n") * F.col("sxx") - F.col("s") * F.col("s")).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    v = g.select(
        "event_type",
        F.col("n").alias("n_events"),
        mean_c.alias("mean_c"),
        var_c.alias("var_c"),
        F.expr("n div 2").alias("n_arm"),
    )
    mde_c = _POWER_K * F.sqrt(2.0 * F.col("var_c") / F.col("n_arm"))
    return v.select(
        "event_type",
        "n_events",
        round_dp(F.col("mean_c") / 100.0).cast("double").alias("mean_value"),
        round_dp(F.sqrt(F.col("var_c")) / 100.0)
        .cast("double")
        .alias("sd_value"),
        round_dp(mde_c / 100.0).cast("double").alias("mde_abs"),
        round_dp(mde_c / F.col("mean_c")).cast("double").alias("mde_rel"),
        round_dp(
            2.0
            * _POWER_K
            * _POWER_K
            * F.col("var_c")
            / (
                _POWER_REL_MDE
                * F.col("mean_c")
                * _POWER_REL_MDE
                * F.col("mean_c")
            ),
            4,
        )
        .cast("double")
        .alias("n_per_arm_for_1pct"),
    )


@query(
    "agg_price_elasticity",
    # Log-log price elasticity of demand per brand (the econometric
    # sibling of agg_trend_ols): beta = cov(ln u, ln q)/var(ln u) over
    # order lines, with u the exact unit-price ratio. Each row
    # contributes two 9dp-rounded logs; every first/second moment is a
    # nano-quantized int64 -> decimal/HUGEINT sum (order-independent);
    # beta and r2 are fixed-order compositions of those exact integers
    # with single divisions, 9dp.
    oracle="""
    WITH li AS (
      SELECT p.p_brand AS brand,
             ROUND(LN(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                      / (100.0 * CAST(round(l.l_quantity, 0) AS BIGINT))), 9)
               AS a,
             ROUND(LN(CAST(CAST(round(l.l_quantity, 0) AS BIGINT)
                      AS DOUBLE)), 9) AS b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE CAST(round(l.l_quantity, 0) AS BIGINT) >= 1),
    q AS (
      SELECT brand,
             CAST(ROUND(a * 1e9, 0) AS BIGINT) AS qa,
             CAST(ROUND(b * 1e9, 0) AS BIGINT) AS qb,
             CAST(ROUND(a * b * 1e9, 0) AS BIGINT) AS qab,
             CAST(ROUND(a * a * 1e9, 0) AS BIGINT) AS qaa,
             CAST(ROUND(b * b * 1e9, 0) AS BIGINT) AS qbb
      FROM li),
    g AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(qa AS HUGEINT)) AS HUGEINT) AS sa,
             CAST(SUM(CAST(qb AS HUGEINT)) AS HUGEINT) AS sb,
             CAST(SUM(CAST(qab AS HUGEINT)) AS HUGEINT) AS sab,
             CAST(SUM(CAST(qaa AS HUGEINT)) AS HUGEINT) AS saa,
             CAST(SUM(CAST(qbb AS HUGEINT)) AS HUGEINT) AS sbb
      FROM q GROUP BY brand)
    SELECT brand, n AS n_lines,
           CAST(ROUND(CAST(n * sab - sa * sb AS DOUBLE)
                      / CAST(n * saa - sa * sa AS DOUBLE), 9) AS DOUBLE)
             AS elasticity,
           CAST(ROUND((CAST(n * sab - sa * sb AS DOUBLE)
                       / CAST(n * saa - sa * sa AS DOUBLE))
                      * (CAST(n * sab - sa * sb AS DOUBLE)
                         / CAST(n * sbb - sb * sb AS DOUBLE)), 9) AS DOUBLE)
             AS r_squared
    FROM g
    """,
)
def agg_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per brand — the pricing
    team's standard readout (a 1% price move shifts demand by beta%):
    OLS slope of ln(quantity) on ln(unit price) over order lines,
    with r-squared as slope_xy * slope_yx (the textbook identity,
    avoiding any sqrt).

    Determinism at parallelism: the two logs are 9dp-rounded per row,
    then EVERY moment (first, second, cross) is a nano-quantized int64
    sum held in decimal/HUGEINT (the cross-products pass 2^63 at
    warehouse scale) — order-independent, O(1) agg state; beta/r2 are
    fixed-order double compositions of exact integers with one
    division each.

    Scale shape: broadcast part dim into the fact scan + ONE
    map-side-combinable hash agg to |brands| cells. Zero-quantity
    lines are excluded before any log (ln(0) guard, both engines
    identically). The narrow (brand, a, b) projection round-robins
    out of the scan before the agg: the local fact file is 3 input
    splits, and the per-row log/round + five decimal nano-sum partials
    are the dominant cost (~30 s CPU at sf0.1 measured serial on the
    3 scan tasks; an 18 MB shuffle of 3 narrow columns fans it across
    every core — guide §2.5, the r13 single-split finding applied to a
    few-split fact scan)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    qint = F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)")
    pc = F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)")
    raw = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(qint >= 1)
        .select(F.col("p_brand").alias("brand"), pc.alias("pc"), qint.alias("q"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    j = raw.select(
        "brand",
        round_dp(F.log(F.col("pc") / (100.0 * F.col("q")))).alias("a"),
        round_dp(F.log(F.col("q").cast("double"))).alias("b"),
    )
    def nano(c):
        return F.round(c * F.lit(1e9), 0).cast("long").cast("decimal(38,0)")

    g = j.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(nano(F.col("a"))).alias("sa"),
        F.sum(nano(F.col("b"))).alias("sb"),
        F.sum(nano(F.col("a") * F.col("b"))).alias("sab"),
        F.sum(nano(F.col("a") * F.col("a"))).alias("saa"),
        F.sum(nano(F.col("b") * F.col("b"))).alias("sbb"),
    )
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    dena = (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    denb = (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    return g.select(
        "brand",
        F.col("n").alias("n_lines"),
        round_dp(num / dena).cast("double").alias("elasticity"),
        round_dp((num / dena) * (num / denb))
        .cast("double")
        .alias("r_squared"),
    )


_Z975 = 1.959963985  # z_{0.975}, pre-rounded 9dp literal


@query(
    "agg_delta_ratio_ci",
    # Delta-method CI for a RATIO metric per experiment arm (revenue
    # per view — the metric class where naive per-user averaging is
    # wrong because users contribute unequal denominators): R =
    # sum(X)/sum(Y) over users, var(R) ~= (vx - 2R cxy + R^2 vy)
    # / (n my^2); user-level moments are exact int64/decimal sums,
    # R and the variance are fixed-order compositions, one sqrt, 9dp.
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('t:' || CAST(user_id AS VARCHAR)), 1, 2))
                  AS BIGINT) % 2 AS treated,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100, 0) AS BIGINT) END), 0)
               AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0)
               AS BIGINT) AS y
      FROM events GROUP BY user_id),
    g AS (
      SELECT treated,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM u WHERE 1 GROUP BY treated),
    v AS (
      SELECT treated, n,
             CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
             CAST(sy AS DOUBLE) / n AS my,
             CAST(n * sxx - sx * sx AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS vx,
             CAST(n * syy - sy * sy AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS vy,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) AS cxy
      FROM g),
    se AS (
      SELECT treated, n, r, my,
             SQRT((vx - 2 * r * cxy + r * r * vy) / (n * my * my)) AS s
      FROM v)
    SELECT treated, n AS n_users,
           CAST(ROUND(r / 100.0, 9) AS DOUBLE) AS ratio,
           CAST(ROUND(s / 100.0, 9) AS DOUBLE) AS se,
           CAST(ROUND((r - {_Z975} * s) / 100.0, 9) AS DOUBLE) AS ci_lo,
           CAST(ROUND((r + {_Z975} * s) / 100.0, 9) AS DOUBLE) AS ci_hi
    FROM se
    """,
)
def agg_delta_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for a ratio-of-sums metric
    (revenue per view) per experiment arm — the estimator class where
    per-user averaging is biased (users carry unequal denominators)
    and the bootstrap is overkill: var(sum X/sum Y) comes from the
    user-level moment matrix via the first-order Taylor expansion.
    Completes the experimentation suite for RATIO metrics (agg_cuped
    covers means; most production metrics — CTR, revenue/session,
    cost/click — are ratios).

    Determinism: user moments are exact int64/decimal sums (cross
    products pass 2^63 at scale — HUGEINT/decimal accumulators); R,
    the variance polynomial, and the CI are fixed-order double
    compositions with one sqrt, 9dp; z is a pre-rounded literal.

    Scale shape: one user-level hash agg + one 2-row arm agg. The
    whole CI costs one corpus scan at any size."""
    e = load(spark, sf_dir, "events")
    cents = F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")
    u = e.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", cents)), F.lit(0)
        )
        .cast("bigint")
        .alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "view", 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("y"),
    ).select(_treated(), "x", "y")
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    g = u.groupBy("treated").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
        F.sum(xd * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    v = g.select(
        "treated",
        "n",
        (F.col("sx").cast("double") / F.col("sy").cast("double")).alias("r"),
        (F.col("sy").cast("double") / F.col("n")).alias("my"),
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            / (nd * (F.col("n") - 1))
        ).alias("vx"),
        (
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            / (nd * (F.col("n") - 1))
        ).alias("vy"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (nd * (F.col("n") - 1))
        ).alias("cxy"),
    )
    s = F.sqrt(
        (
            F.col("vx")
            - 2 * F.col("r") * F.col("cxy")
            + F.col("r") * F.col("r") * F.col("vy")
        )
        / (F.col("n") * F.col("my") * F.col("my"))
    )
    return v.select(
        "treated",
        F.col("n").alias("n_users"),
        round_dp(F.col("r") / 100.0).cast("double").alias("ratio"),
        round_dp(s / 100.0).cast("double").alias("se"),
        round_dp((F.col("r") - _Z975 * s) / 100.0)
        .cast("double")
        .alias("ci_lo"),
        round_dp((F.col("r") + _Z975 * s) / 100.0)
        .cast("double")
        .alias("ci_hi"),
    )


@query(
    "agg_mann_whitney",
    # Mann-Whitney U (two-sample rank test, view vs purchase values)
    # WITHOUT ranking the corpus: collapse both samples to the distinct
    # cents grid, midranks come from cumulative counts (2*R1 =
    # sum cnt1*(2*c_below + cnt + 1) stays EXACT int64), the
    # tie-corrected variance is a fixed-order rational of exact integer
    # sums, and z is one division after one sqrt, 9dp.
    oracle="""
    WITH s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is1
      FROM events WHERE event_type IN ('view', 'purchase')),
    grid AS (
      SELECT c,
             CAST(SUM(is1) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS ct
      FROM s GROUP BY c),
    cum AS (
      SELECT c, c1, ct,
             COALESCE(SUM(ct) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below,
             SUM(c1) OVER () AS n1,
             SUM(ct) OVER () AS nn,
             SUM(ct * ct * ct - ct) OVER () AS tie3
      FROM grid),
    agg AS (
      SELECT MAX(n1) AS n1, MAX(nn) - MAX(n1) AS n2, MAX(nn) AS nn,
             MAX(tie3) AS tie3,
             CAST(SUM(c1 * (2 * below + ct + 1)) AS BIGINT) AS r1x2
      FROM cum)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(ROUND((n1 * n2 + n1 * (n1 + 1) / 2.0 - r1x2 / 2.0), 4)
             AS DOUBLE) AS u_stat,
           CAST(ROUND(
             (n1 * n2 + n1 * (n1 + 1) / 2.0 - r1x2 / 2.0 - n1 * n2 / 2.0)
             / SQRT(CAST(n1 AS DOUBLE) * n2 / 12.0
                    * ((nn + 1) - CAST(tie3 AS DOUBLE)
                       / (CAST(nn AS DOUBLE) * (nn - 1)))), 9) AS DOUBLE)
             AS z_score
    FROM agg
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test between the view and purchase value
    distributions — the nonparametric location test beside
    agg_ab_ttest (means) and agg_ks_test (shape): U detects stochastic
    dominance without normality assumptions, the default when metric
    distributions are skewed (they always are).

    Computed the scale-correct way: both samples collapse to ONE
    distinct-cents grid (hash agg), midranks fall out of cumulative
    counts on the grid — doubled rank sums stay EXACT int64
    (2*R1 = sum cnt1*(2*below + ct + 1)) — and the tie-corrected
    normal approximation is a fixed-order rational of exact integer
    sums with one sqrt, 9dp. The corpus is never globally ranked (the
    scipy per-row path dies at 10^9 rows; this is the agg_ks_test grid
    posture applied to rank statistics). The grid windows run on ONE
    partition sized by the distinct-cents DOMAIN (~2e6 cells worst
    case, KBs per cell) — at a wider value domain, range-partition the
    grid and prefix-offset the cumulative counts (the documented
    distributed-sweep swap, same as agg_ks_test)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    s = e.select(
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is1"),
    )
    grid = s.groupBy("c").agg(
        F.sum("is1").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("ct"),
    )
    w_below = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = grid.select(
        "c",
        "c1",
        "ct",
        F.coalesce(F.sum("ct").over(w_below), F.lit(0)).alias("below"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("ct").over(w_all).alias("nn"),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .over(w_all)
        .alias("tie3"),
    )
    agg = cum.agg(
        F.max("n1").alias("n1"),
        (F.max("nn") - F.max("n1")).alias("n2"),
        F.max("nn").alias("nn"),
        F.max("tie3").alias("tie3"),
        F.sum(F.col("c1") * (2 * F.col("below") + F.col("ct") + 1))
        .cast("bigint")
        .alias("r1x2"),
    )
    u = (
        F.col("n1") * F.col("n2")
        + F.col("n1") * (F.col("n1") + 1) / 2.0
        - F.col("r1x2") / 2.0
    )
    var = (
        F.col("n1").cast("double")
        * F.col("n2")
        / 12.0
        * (
            (F.col("nn") + 1)
            - F.col("tie3").cast("double")
            / (F.col("nn").cast("double") * (F.col("nn") - 1))
        )
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        round_dp(u, 4).cast("double").alias("u_stat"),
        round_dp((u - F.col("n1") * F.col("n2") / 2.0) / F.sqrt(var))
        .cast("double")
        .alias("z_score"),
    )


# (name, exact-integer expression) — the lineitem measure set for the
# covariance matrix; units: qty integer, price cents, discount/tax
# basis points. One agg computes all first/second/cross moments.
_COV_VARS = (
    ("quantity", "CAST(ROUND(l_quantity, 0) AS BIGINT)"),
    ("price", "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"),
    ("discount", "CAST(ROUND(l_discount * 10000, 0) AS BIGINT)"),
    ("tax", "CAST(ROUND(l_tax * 10000, 0) AS BIGINT)"),
)


def _cov_oracle() -> str:
    sums = ", ".join(
        f"CAST(SUM(CAST({e} AS HUGEINT)) AS HUGEINT) AS s_{n}"
        for n, e in _COV_VARS
    )
    crosses = ", ".join(
        f"CAST(SUM(CAST({ea} AS HUGEINT) * ({eb})) AS HUGEINT) AS s_{na}_{nb}"
        for i, (na, ea) in enumerate(_COV_VARS)
        for nb, eb in _COV_VARS[i:]
    )
    pair_rows = "\n    UNION ALL\n    ".join(
        f"""SELECT '{na}' AS var_a, '{nb}' AS var_b,
           ROUND(CAST(n * s_{na}_{nb} - s_{na} * s_{nb} AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)), 4) AS cov,
           ROUND((CAST(n * s_{na}_{nb} - s_{na} * s_{nb} AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1)))
                 / SQRT((CAST(n * s_{na}_{na} - s_{na} * s_{na} AS DOUBLE)
                         / (CAST(n AS DOUBLE) * (n - 1)))
                        * (CAST(n * s_{nb}_{nb} - s_{nb} * s_{nb} AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (n - 1)))), 9) AS corr
    FROM g"""
        for i, (na, _) in enumerate(_COV_VARS)
        for nb, _2 in _COV_VARS[i:]
    )
    return f"""
    WITH g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, {sums}, {crosses}
      FROM lineitem)
    SELECT var_a, var_b, CAST(cov AS DOUBLE) AS cov,
           CAST(corr AS DOUBLE) AS corr
    FROM ({pair_rows})
    """


@query("agg_covariance_matrix", oracle=_cov_oracle())
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise covariance/correlation matrix over the lineitem
    measure set (quantity, price, discount, tax) — the ANALYZE-style
    statistics block a cost-based optimizer or feature-selection pass
    reads, computed in ONE corpus scan: a single aggregate carries all
    4 first moments and 10 second/cross moments as exact
    decimal/HUGEINT integer sums (cents/basis-point units; the cross
    products pass 2^63 at warehouse scale), and the 10 matrix cells
    unfold from that one row — never one pass per pair.

    Determinism: every moment is an exact integer; cov and corr are
    fixed-order double compositions with one sqrt per cell (cov 4dp —
    large mixed units; corr 9dp, dimensionless). Scale shape: one
    map-side-combinable agg; the matrix itself is 10 rows."""
    li = load(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for nm, ex in _COV_VARS:
        aggs.append(
            F.sum(F.expr(ex).cast("decimal(38,0)")).alias(f"s_{nm}")
        )
    for i, (na, ea) in enumerate(_COV_VARS):
        for nb, eb in _COV_VARS[i:]:
            aggs.append(
                F.sum(
                    F.expr(ea).cast("decimal(38,0)") * F.expr(eb)
                ).alias(f"s_{na}_{nb}")
            )
    # materialize the ONE moment row: the 10-cell union below selects
    # from g ten times, and without this the full lineitem moment agg
    # re-ran once per cell (10 scans; guide §1.2 — don't compute
    # things twice). The checkpoint is a 1-row frame.
    g = li.agg(*aggs).localCheckpoint()
    nd = F.col("n").cast("double")

    def cov(a, b):
        return (
            F.col("n") * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        ).cast("double") / (nd * (F.col("n") - 1))

    parts = []
    for i, (na, _) in enumerate(_COV_VARS):
        for nb, _2 in _COV_VARS[i:]:
            parts.append(
                g.select(
                    F.lit(na).alias("var_a"),
                    F.lit(nb).alias("var_b"),
                    round_dp(cov(na, nb), 4).cast("double").alias("cov"),
                    round_dp(cov(na, nb) / F.sqrt(cov(na, na) * cov(nb, nb)))
                    .cast("double")
                    .alias("corr"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "agg_lorenz_points",
    # Lorenz curve coordinates per market segment (the curve behind
    # agg_gini's scalar): customers ranked by revenue, bucketed into
    # deciles by PURE INTEGER rank arithmetic ((rk-1)*10) div n, per-
    # decile revenue share and cumulative share as exact int64 cents
    # ratios, one division each, 9dp.
    oracle="""
    WITH cust AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS c
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey),
    r AS (
      SELECT seg, c,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY c, o_custkey) AS rk,
             COUNT(*) OVER (PARTITION BY seg) AS n,
             SUM(c) OVER (PARTITION BY seg) AS s
      FROM cust),
    d AS (
      SELECT seg, ((rk - 1) * 10) // n AS decile,
             CAST(SUM(c) AS BIGINT) AS dc,
             CAST(COUNT(*) AS BIGINT) AS dn,
             MAX(s) AS s
      FROM r GROUP BY seg, ((rk - 1) * 10) // n)
    SELECT seg AS c_mktsegment, CAST(decile AS BIGINT) AS decile,
           dn AS n_customers,
           CAST(ROUND(dc * 1.0 / s, 9) AS DOUBLE) AS share,
           CAST(ROUND(SUM(dc) OVER (PARTITION BY seg ORDER BY decile)
                      * 1.0 / s, 9) AS DOUBLE) AS cum_share
    FROM d
    """,
)
def agg_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve coordinates — the distribution curve agg_gini's
    scalar summarizes (plotting cum share of revenue vs cum share of
    customers; the bowed-away-from-diagonal picture every inequality
    report shows): customers ranked ascending by revenue within
    segment, decile = ((rank-1)*10) div n (pure integer — no float
    bucketing edge cases), per-decile and cumulative revenue shares
    as exact int64 cents ratios.

    Scale shape: one customer-level hash agg, one rank window per
    segment (the exact-order-statistic cost, agg_winsorize posture —
    swap for agg_quantile_sketch decile cuts at 10^9 customers,
    documented), one <=10-row-per-segment agg + cumulative window on
    the decile grid."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("bigint")
            .alias("c")
        )
    )
    wrk = Window.partitionBy("seg").orderBy("c", "o_custkey")
    wseg = Window.partitionBy("seg")
    r = cust.select(
        "seg",
        "c",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wseg).alias("n"),
        F.sum("c").over(wseg).alias("s"),
    )
    d = (
        r.withColumn("decile", F.expr("((rk - 1) * 10) div n"))
        .groupBy("seg", "decile")
        .agg(
            F.sum("c").cast("bigint").alias("dc"),
            F.count(F.lit(1)).cast("bigint").alias("dn"),
            F.max("s").alias("s"),
        )
    )
    wcum = Window.partitionBy("seg").orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return d.select(
        F.col("seg").alias("c_mktsegment"),
        F.col("decile").cast("bigint").alias("decile"),
        F.col("dn").alias("n_customers"),
        round_dp(F.col("dc") / F.col("s")).cast("double").alias("share"),
        round_dp(F.sum("dc").over(wcum) / F.col("s"))
        .cast("double")
        .alias("cum_share"),
    )


@query(
    "agg_ab_srm_check",
    # Sample-ratio-mismatch guardrail (the first check every experiment
    # readout runs — a biased assignment invalidates everything
    # downstream): observed arm counts vs the expected 50/50 split,
    # 1-dof chi-square = (n0-n1)^2/(n0+n1) in EXACT integer form until
    # one division, flag at the 3.841 (p=0.05) critical literal.
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id,
             CAST(('0x' || substr(md5('t:' || CAST(user_id AS VARCHAR)), 1, 2))
                  AS BIGINT) % 2 AS treated
      FROM events),
    g AS (
      SELECT CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0
      FROM u)
    SELECT n0 AS n_control, n1 AS n_treated,
           CAST(ROUND((n0 - n1) * (n0 - n1) * 1.0 / (n0 + n1), 9) AS DOUBLE)
             AS chi2,
           ((n0 - n1) * (n0 - n1) * 1.0 / (n0 + n1)) > 3.841 AS srm_detected
    FROM g
    """,
)
def agg_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the guardrail every experiment
    platform runs BEFORE any readout (Microsoft/Booking both report SRM
    in ~6% of experiments; a mismatched split means assignment is
    broken and every downstream estimate is invalid): the md5-parity
    assignment's observed arm counts vs the designed 50/50, 1-dof
    chi-square (n0-n1)^2/(n0+n1) in exact integer form until ONE
    division, flagged against the pre-rounded p=0.05 critical value.

    Scale shape: one distinct-user agg + a 2-cell reduction — the
    cheapest query in the experimentation suite and the first one to
    run. The decision comparison uses the unrounded double of exact
    ints against a literal — identical in both engines."""
    e = load(spark, sf_dir, "events")
    u = e.select("user_id").distinct().select(_treated())
    g = u.agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
    )
    chi2 = (
        (F.col("n0") - F.col("n1"))
        * (F.col("n0") - F.col("n1"))
        / (F.col("n0") + F.col("n1"))
    )
    return g.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treated"),
        round_dp(chi2).cast("double").alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


_TRIPLE_MINSUP = 2  # minimum order support (max observed support at the gate SF is 2)


@query(
    "agg_basket_triples",
    # Frequent 3-itemset mining over order baskets: baskets are
    # BOUNDED (~7 lines/order), so candidate triples expand IN-ROW
    # (C(7,3) = 35 max per order — explicit, no Apriori join chain),
    # then ONE hash agg counts support and the minsup filter prunes.
    # The oracle states the same semantics as the obvious 3-way
    # self-join. Pure integer counts.
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    t AS (
      SELECT a.pk AS p1, b.pk AS p2, c.pk AS p3,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
                   JOIN items c ON a.ok = c.ok AND b.pk < c.pk
      GROUP BY a.pk, b.pk, c.pk)
    SELECT p1, p2, p3, support
    FROM t WHERE support >= {_TRIPLE_MINSUP}
    """,
)
def agg_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemset mining — the next Apriori rung above
    graph_assoc_rules' pair rules (triple co-occurrence is where
    bundle/recommendation signals live that pairwise lift cannot see):
    every order's distinct item set expands to its C(k,3) sorted
    triples IN-ROW, one hash agg counts order support, minsup prunes.

    The scale argument is the basket bound: retail baskets are small
    (<=7 lines here, rarely >100 anywhere), so the in-row expansion is
    O(k^3) per order with tiny k — explicit and bounded, no pair/triple
    join chain, no Apriori candidate generation needed. For unbounded
    'baskets' (sessions with 10^4 events) the Apriori prune on
    frequent pairs IS required — documented, graph_assoc_rules owns
    the pair stage it would build on. Shuffle = |distinct triples|
    after map-side combine."""
    li = load(spark, sf_dir, "lineitem")
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .groupBy("ok")
        .agg(F.sort_array(F.collect_list("pk")).alias("ps"))
        .filter(F.size("ps") >= 3)
    )
    triples = baskets.select(
        F.explode(
            F.expr(
                """
        flatten(flatten(
          transform(sequence(0, size(ps) - 3), i ->
            transform(sequence(i + 1, size(ps) - 2), j ->
              transform(sequence(j + 1, size(ps) - 1), k ->
                struct(ps[i] AS p1, ps[j] AS p2, ps[k] AS p3))))))
        """
            )
        ).alias("t")
    )
    return (
        triples.groupBy(
            F.col("t.p1").alias("p1"),
            F.col("t.p2").alias("p2"),
            F.col("t.p3").alias("p3"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= _TRIPLE_MINSUP)
    )


_APRIORI_SUP = 3  # support threshold for L2 and L3 (customer baskets)


@query(
    "agg_apriori_triples",
    # Classic distributed Apriori over UNBOUNDED baskets — the scale
    # counterpart of agg_basket_triples (whose in-row C(n,3) expansion
    # is only viable for bounded ~7-line order baskets): customer
    # baskets here reach 105 distinct items (C(105,3) ≈ 187k triples
    # per basket — in-row expansion is exactly what Apriori's candidate
    # pruning exists to avoid). Chain: L2 pairs (support >= 3) ->
    # C3 = L2 join L2 on shared first item -> subset-prune C3 against
    # L2 on (b, c) (the Apriori monotonicity step — kills 94% of
    # candidates at sf0.01) -> support counted by a candidate-driven
    # 3-way equi-join against the basket-item table (never expanding
    # triples) -> keep support >= 3. Pure integer counts.
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT o.o_custkey AS bk, l.l_partkey AS item
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    l2 AS (
      SELECT a.item AS x, b.item AS y
      FROM items a JOIN items b ON a.bk = b.bk AND a.item < b.item
      GROUP BY 1, 2 HAVING COUNT(*) >= {_APRIORI_SUP}),
    c3 AS (
      SELECT p.x AS a, p.y AS b, q.y AS c
      FROM l2 p JOIN l2 q ON p.x = q.x AND p.y < q.y),
    c3p AS (
      SELECT c3.a, c3.b, c3.c
      FROM c3 JOIN l2 ON c3.b = l2.x AND c3.c = l2.y)
    SELECT c.a AS item_a, c.b AS item_b, c.c AS item_c,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM c3p c
    JOIN items ia ON ia.item = c.a
    JOIN items ib ON ib.bk = ia.bk AND ib.item = c.b
    JOIN items ic ON ic.bk = ia.bk AND ic.item = c.c
    GROUP BY 1, 2, 3 HAVING COUNT(*) >= {_APRIORI_SUP}
    """,
)
def agg_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets via the Apriori candidate-prune chain over
    customer baskets (up to 105 distinct items each).

    Scale shape: the basket-item table materializes ONCE and feeds
    every stage; L2 comes from one basket-keyed self-join + minsup
    hash agg (C(n,2) work is still tractable where C(n,3) is not) and
    localCheckpoints because THREE downstream stages consume it (two
    sides of candidate generation + the subset prune); C3
    candidates never exist as basket expansions — they are generated
    from L2 join L2 (shared first item) and immediately pruned by the
    monotonicity property (every 2-subset must be frequent: one more
    equi-join against L2); final support counting is candidate-driven
    (3 equi-joins against the item table, group, filter) so the work
    is O(|candidates| x avg basket hits), independent of C(n,3)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    items = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("bk"), F.col("l_partkey").alias("item"))
        .distinct()
        .localCheckpoint()
    )
    # L2: basket-keyed self-join + minsup agg. At 40+ items/basket the
    # codegen'd hash join beats the in-row HOF pair expansion 2x
    # (interpreted lambda structs; measured 7.5 s -> 3.9 s at sf0.1) —
    # the OPPOSITE of the bounded 7-line order baskets where graph._pairs'
    # in-row form wins. Both shuffle the item table by basket once.
    # Pin the basket-join shuffle width: the item table is a few MB so
    # AQE's byte heuristic coalesces the C(n,2) pair fan-out to ~10
    # tasks while the work is per-PAIR; a user repartition on the join
    # key keeps the enumeration on all cores with no extra exchange
    # (guide §2.2; both sides reuse the same pinned exchange).
    iw = items.repartition(spark.sparkContext.defaultParallelism, "bk")
    b2 = iw.select(F.col("bk").alias("bk2"), F.col("item").alias("item2"))
    l2 = (
        iw.join(
            b2, (F.col("bk") == F.col("bk2")) & (F.col("item") < F.col("item2"))
        )
        .groupBy(F.col("item").alias("x"), F.col("item2").alias("y"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _APRIORI_SUP)
        .select("x", "y")
        .localCheckpoint()  # consumed by three downstream stages
    )
    # C3 candidates from L2 join L2 (shared first item), then the
    # Apriori subset prune: (b, c) must itself be frequent
    p = l2.select(F.col("x").alias("a"), F.col("y").alias("b"))
    q = l2.select(F.col("x").alias("a2"), F.col("y").alias("c"))
    c3 = p.join(q, (F.col("a") == F.col("a2")) & (F.col("b") < F.col("c"))).select(
        "a", "b", "c"
    )
    prune = l2.select(F.col("x").alias("b"), F.col("y").alias("c"))
    c3p = c3.join(prune, ["b", "c"], "left_semi")
    # candidate-driven support count: 3 equi-joins against the item
    # table (no triple expansion anywhere)
    ia = items.select("bk", F.col("item").alias("a"))
    ib = items.select(F.col("bk").alias("bk2"), F.col("item").alias("b2"))
    ic = items.select(F.col("bk").alias("bk3"), F.col("item").alias("c2"))
    return (
        c3p.join(ia, "a")
        .join(ib, (F.col("bk") == F.col("bk2")) & (F.col("b") == F.col("b2")))
        .join(ic, (F.col("bk") == F.col("bk3")) & (F.col("c") == F.col("c2")))
        .groupBy(
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            F.col("c").alias("item_c"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= _APRIORI_SUP)
    )
