"""Window-function operators (SURVEY §2.5).

Reference parity: "top-cited patents per classification" is the ranking-
window pattern (`topk_per_group`); the rest are the category-required
window battery.

Scale notes: a window = one shuffle on partitionBy keys + per-partition
sort. All partition keys here (customer, user) have bounded per-key
cardinality, so no single window partition can blow up an executor at
100×; none of these use the unbounded-both-sides frame that forces full
materialization per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.stable import (
    comoment,
    comoment_sql,
    pearson,
    pearson_sql,
    round_dp,
    tokens,
)
from ..registry import query
from ..runtime import checkpoint
from ..sources.tables import load


@query(
    "win_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking battery per customer by total price (o_orderkey tiebreak
    keeps row_number/ntile deterministic)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        round_dp(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts,
           LAG(event_id) OVER w AS prev_event,
           LEAD(event_id) OVER w AS next_event,
           CAST(date_diff('millisecond', LAG(ts) OVER w, ts) AS BIGINT) AS ms_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gaps via lag/lead (millisecond difference is
    integer arithmetic -> exact)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        # DuckDB date_diff counts ms-boundary crossings: floor(b)-floor(a),
        # not floor(b-a); mirror that exactly (tz-independent: deltas only)
        (
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000")
            - F.expr(
                "unix_micros(CAST(lag(ts) OVER "
                "(PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP)) div 1000"
            )
        ).alias("ms_since_prev"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer in date order (decimal-exact prefix
    sums are order-defined, so both engines agree bitwise)."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(22,6)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


@query(
    "win_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(22,6)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           AS mov_avg_value
    FROM events
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average per user (exact decimal sum / window count)."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast("decimal(22,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("mov_avg_value"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT p_partkey, p_size,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(22,6)))
                OVER (ORDER BY p_size RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS price_in_size_band,
           COUNT(*) OVER (ORDER BY p_size RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS n_in_size_band
    FROM part
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame on a numeric key: all parts within size-2..size count
    toward the frame regardless of row position."""
    p = load(spark, sf_dir, "part")
    w = Window.orderBy("p_size").rangeBetween(-2, Window.currentRow)
    return p.select(
        "p_partkey",
        "p_size",
        F.sum(F.col("p_retailprice").cast("decimal(22,6)"))
        .over(w)
        .cast("double")
        .alias("price_in_size_band"),
        F.count(F.lit(1)).over(w).alias("n_in_size_band"),
    )


@query(
    "win_first_last",
    oracle="""
    SELECT event_id, user_id,
           FIRST_VALUE(event_type) OVER w AS day_first_type,
           LAST_VALUE(event_type) OVER
             (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS day_last_type
    FROM events
    WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event type per user-day (last needs the full-frame spec;
    default frame would return the current row)."""
    e = load(spark, sf_dir, "events").withColumn("day", F.col("ts").cast("date"))
    w_first = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    w_full = w_first.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return e.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w_first).alias("day_first_type"),
        F.last("event_type").over(w_full).alias("day_last_type"),
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (reference analog: top-cited patents per
    class). rank+filter; Spark pushes the limit into the window sort
    (WindowGroupLimit) so each partition only keeps k rows."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "win_cume_nth",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(cume_dist() OVER w AS DOUBLE) AS cd,
           nth_value(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WHERE o_custkey % 20 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_cume_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist + nth_value analytics over a fully-framed window
    (deterministic total order within each customer)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") % 20 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.cume_dist().over(
            Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
        ).alias("cd"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


@query(
    "win_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 5 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_id, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, session_no
    """,
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): flag gaps > 5 min per
    user with lag(), number sessions by running sum of flags, aggregate
    per session. One shuffle (the user partition) carries the whole
    pattern — the batch counterpart of stream_session."""
    e = load(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; epoch micros via a UTC-session cast (same
    # recipe as stream_session) keeps the gap math integer-exact
    micros = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    gap = micros - F.lag(micros).over(w_ord)
    flagged = e.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 300 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias(
            "session_value"
        ),
    )


@query(
    "win_gap_fill",
    oracle="""
    WITH b AS (
      SELECT user_id,
             TIMESTAMP '1970-01-01' + CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600 * INTERVAL 1 SECOND AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id % 100 = 0
      GROUP BY 1, 2
    ),
    spans AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM b GROUP BY user_id
    ),
    grid AS (
      SELECT s.user_id, g.g AS h
      FROM spans s, LATERAL (SELECT unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS g) g
    )
    SELECT g.user_id, g.h AS bucket_ts,
           COALESCE(b.n, 0) AS n_events,
           (b.n IS NULL) AS was_gap
    FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.h = b.h
    """,
)
def win_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: per user, the hourly activity series is
    densified over [first, last] active hour — missing buckets emerge as
    explicit zero rows flagged was_gap (what a monitoring/feature
    pipeline needs before windowed models; absent rows are invisible to
    window functions). The dense grid is generated in-row per user with
    sequence() — no driver loop, no cross join against a global
    calendar; grid volume is Σ per-user spans, not |users| × |hours|."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") % 100 == 0)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    spans = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket_ts"),
    )
    return (
        grid.join(
            hourly,
            (grid.user_id == hourly.user_id) & (grid.bucket_ts == hourly.h),
            "left",
        )
        .select(
            grid.user_id,
            "bucket_ts",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.col("n").isNull().alias("was_gap"),
        )
    )


# Truncated-exponential EWMA kernel: weights 0.8^j, 8 taps. Exact decimal
# literals so both engines perform the identical literal->double rounding;
# the chained sum is left-associated identically on both sides.
_EWMA_W = [1.0, 0.8, 0.64, 0.512, 0.4096, 0.32768, 0.262144, 0.2097152]


@query(
    "win_ewma",
    oracle=f"""
    SELECT event_id, user_id, ts, value,
           CAST(ROUND((
             {' + '.join(f"COALESCE(LAG(value, {j}) OVER w, 0.0) * {w!r}" for j, w in enumerate(_EWMA_W))}
           ) / (
             {' + '.join(f"CASE WHEN LAG(value, {j}) OVER w IS NULL THEN 0.0 ELSE {w!r} END" for j, w in enumerate(_EWMA_W))}
           ), 9) AS DOUBLE) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of event values per user
    (8-tap truncated kernel, decay 0.8) — the time-series smoothing
    primitive a true recursive EWMA can't express in a window frame;
    the truncation error is bounded by 0.8^8 ≈ 1.7% of mass.

    Plan: ONE window (shuffle on user_id + sort) feeding all 16 lag
    expressions — Spark collapses same-spec window functions into a
    single WindowExec pass. Numerator/denominator are left-associated
    chains of exact-decimal coefficients, so the double arithmetic is
    bit-identical cross-engine before the 9dp round."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for j, wt in enumerate(_EWMA_W):
        lagged = F.lag("value", j).over(w) if j else F.col("value")
        t_num = F.coalesce(lagged, F.lit(0.0)) * F.lit(wt)
        t_den = F.when(lagged.isNull(), F.lit(0.0)).otherwise(F.lit(wt))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        round_dp(num / den).alias("ewma"),
    )


def _holt_kernel(alpha: float = 0.5, beta: float = 0.3, taps: int = 12) -> list[float]:
    """One-step-ahead Holt (double exponential smoothing) forecast as a
    fixed convolution kernel: the coupled (level, trend) recurrence is
    linear time-invariant, so forecast = Σ_k h_k·y_{t-k} with
    h_k = (1,1)·Aᵏ·c, A the 2×2 companion matrix, c = (α, αβ).
    Computed once in pure Python with a fixed operation order; the SAME
    float literals are embedded in the Spark expression and the oracle
    SQL, so both engines run an identical arithmetic chain. 12 taps
    leave <2% of kernel mass truncated (spectral radius ≈0.85)."""
    a_mat = [[1 - alpha, 1 - alpha], [-alpha * beta, 1 - beta + beta * (1 - alpha)]]
    vec = (alpha, alpha * beta)
    out = []
    for _ in range(taps):
        out.append(vec[0] + vec[1])
        vec = (
            a_mat[0][0] * vec[0] + a_mat[0][1] * vec[1],
            a_mat[1][0] * vec[0] + a_mat[1][1] * vec[1],
        )
    return out


_HOLT_H = _holt_kernel()
# Kernel quantized to 2^-30 for EXACT integer convolution: float chains
# over 12 taps proved to differ by 1 ulp between engines on ~4% of rows
# (measured at sf0.01 — vectorized evaluation orders differ), so the hot
# sum runs in int64 instead: cents (≤2^23) × quantized tap (≤0.65·2^30)
# × 12 taps < 2^53, hence the final int64→double cast and the single
# division by the dyadic-exact 100·2^30 are both exact-input. The
# 2^-30 kernel quantization (~1e-9 relative) is the documented semantic,
# identical in both engines by construction.
_HOLT_SCALE = 2**30
_HOLT_H_INT = [round(h * _HOLT_SCALE) for h in _HOLT_H]
_HOLT_DEN = float(100 * _HOLT_SCALE)  # cents → value units, exact double


@query(
    "win_holt_forecast",
    oracle=f"""
    SELECT event_id, user_id, ts, value,
           CAST(ROUND(CAST((
             {' + '.join(f"COALESCE(LAG(CAST(ROUND(value * 100, 0) AS BIGINT), {j}) OVER w, 0) * CAST({h} AS BIGINT)" for j, h in enumerate(_HOLT_H_INT))}
           ) AS DOUBLE) / {_HOLT_DEN!r}, 9) AS DOUBLE) AS holt_forecast
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend-aware one-step forecast per user (Holt linear / double
    exponential smoothing, α=0.5 β=0.3) — the next rung above win_ewma:
    EWMA tracks level only; Holt extrapolates level + trend, which is
    why some kernel taps go NEGATIVE (recent momentum is projected
    forward). Expressed as a 12-tap truncated convolution (see
    _holt_kernel): the recursive form needs unbounded state, the LTI
    closed form needs only lags, so ONE WindowExec pass (shuffle on
    user_id + sort) feeds all 12 lag terms. Start-of-series rows see a
    shorter kernel (missing lags contribute 0), identically in both
    engines. The convolution runs on exact int64 cents × 2^-30-quantized
    taps (see _HOLT_H_INT): float tap chains measurably drift 1 ulp
    between engines; integer ones cannot."""
    e = load(spark, sf_dir, "events").withColumn(
        "cents", F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    acc = None
    for j, h in enumerate(_HOLT_H_INT):
        lagged = F.lag("cents", j).over(w) if j else F.col("cents")
        term = F.coalesce(lagged, F.lit(0)) * F.lit(h)
        acc = term if acc is None else acc + term
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        round_dp(acc.cast("double") / F.lit(_HOLT_DEN)).alias("holt_forecast"),
    )


@query(
    "win_retention_cohort",
    oracle="""
    WITH first_day AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST(day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS n_active_users
    FROM activity GROUP BY cohort_day, day_offset
    """,
)
def win_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the canonical product-analytics rollup:
    each user joins the cohort of their first-ever event day; for every
    later activity day the matrix counts how many of that cohort were
    active N days after joining.

    Plan shape: the first-touch date is a window MIN over user (one
    shuffle on user_id, reused by the distinct that follows on the same
    key), then a hash aggregate on the tiny (cohort, offset) domain —
    no self-join of the fact table. At 100 TB the events shuffle on
    user_id once; everything after operates on |users| x |days| rows."""
    e = load(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id")
    activity = (
        e.select(
            "user_id",
            F.min(F.col("ts").cast("date")).over(w_user).alias("cohort_day"),
            F.col("ts").cast("date").alias("day"),
        )
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        # string dates: DuckDB DATE surfaces as datetime in the compare
        # harness; a yyyy-MM-dd string is type-stable cross-engine
        F.col("cohort_day").cast("string").alias("cohort_day"),
        "day_offset",
    ).agg(F.count(F.lit(1)).alias("n_active_users"))


@query(
    "win_anomaly_zscore",
    oracle=f"""
    WITH e AS (SELECT event_id, event_type, ts,
                      CAST(round(value*100,0) AS BIGINT) AS c FROM events),
    w AS (
      SELECT event_id, event_type, c,
             count(c) OVER win AS n,
             sum(c) OVER win AS s_c,
             sum(c*c) OVER win AS s_c_c
      FROM e
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type, c/100.0 AS value,
           round((c - s_c/n) / sqrt((s_c_c - s_c*s_c/n) / (n-1)), 9) AS z
    FROM w WHERE n >= 10 AND {comoment_sql("c", "c")} > 0
      AND abs(round((c - s_c/n) / sqrt((s_c_c - s_c*s_c/n) / (n-1)), 9)) > 3.0
    """,
)
def win_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against the
    trailing 20 events of its type (frame ends at 1 PRECEDING so the
    point never dilutes its own baseline); |z| > 3 flags the outlier.
    Mean/variance come from exact int64 cent sums over the frame —
    sliding-window float accumulator drift (subtract-on-evict) can't
    occur on integers, so both engines and any executor count produce the
    same doubles. One sort per event_type partition, no self-join; at
    100 TB the partition key would be (event_type, day-bucket) to bound
    sort width, with the frame carried across bucket seams by the
    streaming variant (stream_stateful_custom holds the same state)."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
    )
    # c2 precomputed BEFORE the window: sum(c*c) as a window expression
    # would force Spark to split off a second Window node (it projects
    # the product into a helper column between passes); with c2 as a
    # plain input, count/sum/sum share ONE WindowExec (plan-gated).
    e = e.withColumn("c2", F.col("c") * F.col("c"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(-20, -1)
    s = (
        e.withColumn("n", F.count("c").over(w))
        .withColumn("s_c", F.sum("c").over(w))
        .withColumn("s_c_c", F.sum("c2").over(w))
        .filter(F.col("n") >= 10)
        # zero-variance guard (EXACT integer test — a flat 20-event frame
        # would make sqrt(var)=0 and throw DIVIDE_BY_ZERO under ANSI mode
        # while the oracle silently NULLs; win_rolling_corr guards the
        # same way)
        .filter(comoment("c", "c") > 0)
    )
    mean = F.col("s_c") / F.col("n")
    var = (
        F.col("s_c_c") - F.col("s_c") * F.col("s_c") / F.col("n")
    ) / (F.col("n") - 1)
    s = s.withColumn("z", round_dp((F.col("c") - mean) / F.sqrt(var)))
    return s.filter(F.abs(F.col("z")) > 3.0).select(
        "event_id", "event_type", (F.col("c") / 100.0).alias("value"), "z"
    )


@query(
    "win_rolling_corr",
    oracle=f"""
    WITH e AS (SELECT event_id, event_type, ts,
                      CAST(round(value*100,0) AS BIGINT) AS x FROM events),
    l AS (SELECT event_id, event_type, ts, x,
                 lag(x) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS y
          FROM e),
    w AS (
      SELECT event_id, event_type, x, y,
             count(*) OVER win AS n,
             sum(x) OVER win AS s_x, sum(y) OVER win AS s_y,
             sum(x*x) OVER win AS s_x_x, sum(y*y) OVER win AS s_y_y,
             sum(x*y) OVER win AS s_x_y
      FROM l WHERE y IS NOT NULL
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, round({pearson_sql("x", "y")}, 9) AS autocorr
    FROM w
    WHERE n >= 30 AND {comoment_sql("x", "x")} > 0 AND {comoment_sql("y", "y")} > 0
    """,
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling lag-1 autocorrelation per event_type (regime-change /
    trend detector): Pearson r of (x, lag(x)) over the trailing 30
    pairs. Every moment (sx, sy, sxx, syy, sxy) is an exact int64 cent
    sum — the variance products are cast to double only for the final
    sqrt, so the one float expression is evaluated identically in both
    engines and at any parallelism. Two window passes over ONE sort
    order (lag, then the frame sums — same partition+order, Spark reuses
    the sort); no self-join. Degenerate-variance rows are filtered
    exactly (integer zero test, not a float epsilon)."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("x"),
    )
    wl = Window.partitionBy("event_type").orderBy("ts", "event_id")
    l = e.withColumn("y", F.lag("x").over(wl)).filter(F.col("y").isNotNull())
    l = l.withColumn("xx", F.col("x") * F.col("x")).withColumn(
        "yy", F.col("y") * F.col("y")
    ).withColumn("xy", F.col("x") * F.col("y"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(-29, 0)
    s = (
        l.withColumn("n", F.count("x").over(w))
        .withColumn("s_x", F.sum("x").over(w))
        .withColumn("s_y", F.sum("y").over(w))
        .withColumn("s_x_x", F.sum("xx").over(w))
        .withColumn("s_y_y", F.sum("yy").over(w))
        .withColumn("s_x_y", F.sum("xy").over(w))
        .filter(F.col("n") >= 30)
    )
    return (
        s.filter((comoment("x", "x") > 0) & (comoment("y", "y") > 0))
        .withColumn("autocorr", round_dp(pearson("x", "y")))
        .select("event_id", "event_type", "autocorr")
    )


@query(
    "win_drawdown",
    oracle="""
    WITH e AS (SELECT event_id, event_type, ts,
                      CAST(round(value*100,0) AS BIGINT) AS c FROM events),
    r AS (SELECT event_id, event_type, c,
                 max(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
          FROM e),
    d AS (SELECT event_id, event_type, c, peak, peak - c AS dd FROM r)
    SELECT event_type, event_id AS trough_event_id,
           peak / 100.0 AS peak_value, c / 100.0 AS trough_value,
           dd / 100.0 AS max_drawdown
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY dd DESC, event_id) AS rn FROM d)
    WHERE rn = 1
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series (the classic risk metric): running
    peak via an UNBOUNDED PRECEDING max frame, drawdown = peak - value,
    then the per-series argmax row (event_id tiebreak). Entirely exact
    integer cents — running max and subtraction have no float issues at
    any parallelism — and both window passes share one (event_type, ts)
    sort; WindowGroupLimit prunes the argmax to one row per task."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = e.withColumn("peak", F.max("c").over(w_run)).withColumn(
        "dd", F.col("peak") - F.col("c")
    )
    w_top = Window.partitionBy("event_type").orderBy(
        F.col("dd").desc(), F.col("event_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("event_id").alias("trough_event_id"),
            (F.col("peak") / 100.0).alias("peak_value"),
            (F.col("c") / 100.0).alias("trough_value"),
            (F.col("dd") / 100.0).alias("max_drawdown"),
        )
    )


@query(
    "win_rolling_median",
    oracle="""
    WITH e AS (SELECT event_id, event_type, ts,
                      CAST(round(value*100,0) AS BIGINT) AS c FROM events),
    w AS (
      SELECT event_id, event_type, c,
             list_sort(list(c) OVER win) AS frame
      FROM e
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, c / 100.0 AS value,
           (frame[8]) / 100.0 AS rolling_median
    FROM w WHERE len(frame) = 15
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median (robust smoother — unlike the moving mean it
    shrugs off the outliers win_anomaly_zscore flags): the trailing
    15-value frame is collected in-row, sorted, and the middle element
    picked — exact integer cents, so there is no percentile
    interpolation to diverge cross-engine. The frame list lives inside
    the row (15 int64s), so cost is one sort per partition + O(k log k)
    per row with NO extra shuffle; at 100 TB the same plan holds with
    the frame k as the memory knob (true streaming percentiles swap in
    the mergeable quantile sketch — agg_quantile_sketch — when k grows
    past in-row sizes)."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(-14, 0)
    s = e.withColumn("frame", F.sort_array(F.collect_list("c").over(w)))
    return s.filter(F.size("frame") == 15).select(
        "event_id",
        "event_type",
        (F.col("c") / 100.0).alias("value"),
        (F.element_at("frame", 8) / 100.0).alias("rolling_median"),
    )


@query(
    "win_cusum_changepoint",
    oracle="""
    WITH e AS (SELECT event_id, event_type, ts,
                      CAST(round(value*100,0) AS BIGINT) AS c FROM events),
    g AS (SELECT event_type, SUM(c) AS tot, COUNT(*) AS n FROM e GROUP BY event_type),
    s AS (
      SELECT e.event_id, e.event_type, e.ts,
             SUM(e.c) OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
             ROW_NUMBER() OVER (PARTITION BY e.event_type
                                ORDER BY e.ts, e.event_id) AS t,
             g.tot, g.n
      FROM e JOIN g ON e.event_type = g.event_type),
    dev AS (
      SELECT event_id, event_type, t, n,
             (pre * n - t * tot) AS s_scaled   -- n * S_t in exact cent units
      FROM s)
    SELECT event_type, event_id AS changepoint_event_id,
           CAST(t AS BIGINT) AS t_index,
           round(CAST(abs(s_scaled) AS DOUBLE) / n / 100.0, 9) AS cusum_peak
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY abs(s_scaled) DESC, event_id) AS rn FROM dev)
    WHERE rn = 1
    """,
)
def win_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point estimation: S_t = Σ_{i<=t}(x_i − mean) peaks
    at the most likely mean-shift point (the classic offline CUSUM
    estimator argmax|S_t|). The recurrence is LINEAR, so it distributes
    as prefix_sum − t·mean — one window pass, no sequential loop — and
    everything stays in exact integer cent units by scaling by n
    (S_t·n = n·prefix − t·total, all int64) until the single final
    division. Argmax ranks on the exact integer with event_id tiebreak,
    so the reported change-point is deterministic at any parallelism."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
    )
    g = e.groupBy("event_type").agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    w_pre = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rn = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = (
        e.join(F.broadcast(g), "event_type")
        .withColumn("pre", F.sum("c").over(w_pre))
        .withColumn("t", F.row_number().over(w_rn))
        .withColumn(
            "s_scaled", F.col("pre") * F.col("n") - F.col("t") * F.col("tot")
        )
    )
    w_top = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s_scaled")).desc(), F.col("event_id")
    )
    return (
        s.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("event_id").alias("changepoint_event_id"),
            F.col("t").cast("bigint").alias("t_index"),
            round_dp(
                F.abs(F.col("s_scaled")).cast("double") / F.col("n") / 100.0
            ).alias("cusum_peak"),
        )
    )


_RSI_PERIOD = 14


@query(
    "win_rsi",
    # Wilder's Relative Strength Index over the per-type daily-revenue
    # series: the fact collapses to the (type, day) grid first; one lag
    # gives exact int64 deltas; gains/losses split exactly; RSI over the
    # trailing 14-day frame uses the RATIO OF FRAME SUMS (sum gain /
    # sum loss — both exact int64), so the only float op is the final
    # 100 - 100/(1+rs) expression, rounded 9dp. Frames with zero loss
    # pin RSI to 100 exactly (integer comparison, no division).
    oracle=f"""
    WITH grid AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT event_type, day, cents,
             cents - LAG(cents) OVER w AS delta
      FROM grid WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    gl AS (
      SELECT event_type, day,
             CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain,
             CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss,
             COUNT(delta) OVER w2 AS n_deltas,
             CAST(SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END)
                  OVER w2 AS BIGINT) AS sg,
             CAST(SUM(CASE WHEN delta < 0 THEN -delta ELSE 0 END)
                  OVER w2 AS BIGINT) AS sl
      FROM d
      WINDOW w2 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {_RSI_PERIOD - 1} PRECEDING AND CURRENT ROW))
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(CASE WHEN sl = 0 THEN 100.0
                ELSE ROUND(100.0 - 100.0 / (1.0 + CAST(sg AS DOUBLE) / sl), 9)
                END AS DOUBLE) AS rsi
    FROM gl WHERE n_deltas >= {_RSI_PERIOD}
    """,
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (Wilder's momentum oscillator, the
    overbought/oversold screen next to agg_ohlc and win_drawdown in the
    finance battery) per event_type over daily revenue, 14-day simple
    frame. RSI needs the ratio of average gain to average loss; both
    averages share the frame length, so rs reduces to the ratio of two
    exact int64 FRAME SUMS — no float accumulates anywhere, and the
    single float expression at the end is rounded 9dp. All-gain frames
    hit the sl=0 branch (exact integer test) and pin to 100.

    Scale shape: one map-side-combinable hash agg to the (type, day)
    grid, then two windows (lag + trailing frame) sharing the same
    (type)-partitioned day sort — the fact shuffles once, the windows
    sort ≤|days| rows per type."""
    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    grid = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    d = grid.select(
        "event_type",
        "day",
        (F.col("cents") - F.lag("cents").over(w)).alias("delta"),
    )
    w2 = w.rowsBetween(-(_RSI_PERIOD - 1), Window.currentRow)
    gain = F.when(F.col("delta") > 0, F.col("delta")).otherwise(0)
    loss = F.when(F.col("delta") < 0, -F.col("delta")).otherwise(0)
    gl = d.select(
        "event_type",
        "day",
        F.count("delta").over(w2).alias("n_deltas"),
        F.sum(gain).over(w2).cast("bigint").alias("sg"),
        F.sum(loss).over(w2).cast("bigint").alias("sl"),
    )
    rsi = F.when(F.col("sl") == 0, F.lit(100.0)).otherwise(
        round_dp(
            100.0 - 100.0 / (1.0 + F.col("sg").cast("double") / F.col("sl")),
        )
    )
    return gl.filter(F.col("n_deltas") >= _RSI_PERIOD).select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        rsi.cast("double").alias("rsi"),
    )


_SLIDE_DAYS = 7


@query(
    "win_sliding_distinct",
    # Sliding exact distinct users (7-day trailing window per type) —
    # the DAU-over-window metric windows cannot express (no
    # count_distinct frame in any engine): dedup to (type, user, day),
    # explode each row to the <=7 window-ends it serves, ONE hash
    # count-distinct per (type, window_end). Window ends clamp to the
    # observed day grid.
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day
      FROM events),
    contrib AS (
      SELECT event_type, user_id, day + CAST(o.k AS INT) AS wend
      FROM ud CROSS JOIN (SELECT unnest(range(0, {_SLIDE_DAYS})) AS k) o),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT c.event_type, CAST(c.wend AS VARCHAR) AS window_end,
           COUNT(DISTINCT c.user_id) AS distinct_users
    FROM contrib c JOIN days d ON c.wend = d.day
    GROUP BY c.event_type, c.wend
    """,
)
def win_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per trailing 7-day window per event_type —
    the rolling-DAU/WAU metric. No engine supports count_distinct in a
    window frame, and carrying per-day user SETS through a frame is the
    memory cliff; the scale shape is explode-to-windows: dedup the fact
    to (type, user, day) first (one hash agg), fan each row out to the
    ≤7 window-ends it contributes to (in-row Generate, ×7 — bounded and
    explicit), and run ONE count-distinct hash agg keyed by (type,
    window_end). Window ends clamp to observed days via a broadcast
    day-grid join.

    At 10⁹ users swap exact count-distinct for HLL sketches per
    (type, day) OR-folded across the frame (agg_bitmap_distinct /
    agg_hll_sketch show both state shapes); the explode-to-windows
    topology is unchanged."""
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "event_type", "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    contrib = ud.select(
        "event_type",
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(_SLIDE_DAYS - 1))
        ).alias("k"),
        "day",
    ).select(
        "event_type",
        "user_id",
        F.date_add(F.col("day"), F.col("k")).alias("wend"),
    )
    days = e.select(F.col("ts").cast("date").alias("day")).distinct()
    return (
        contrib.join(
            F.broadcast(days), contrib.wend == days.day
        )
        .groupBy("event_type", "wend")
        .agg(F.count_distinct("user_id").alias("distinct_users"))
        .select(
            "event_type",
            F.col("wend").cast("string").alias("window_end"),
            "distinct_users",
        )
    )


@query(
    "win_skyline_2d",
    # Skyline / Pareto-frontier (the classic non-SQL operator class):
    # parts not dominated in (retailprice MIN, size MAX) — p dominates q
    # iff price <= AND size >= with one strict. In 2D the skyline
    # reduces to ONE window pass: sort by (price ASC, size DESC,
    # partkey), keep rows whose size strictly exceeds every cheaper
    # row's max size; equal-price ties keep the max-size row only.
    # Cents exact int64; all comparisons integer.
    oracle="""
    WITH p AS (
      SELECT p_partkey,
             CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size
      FROM part),
    scan AS (
      SELECT p_partkey, price_c, size,
             MAX(size) OVER (ORDER BY price_c, size DESC, p_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS best_prev,
             ROW_NUMBER() OVER (PARTITION BY price_c
                                ORDER BY size DESC, p_partkey) AS rn
      FROM p)
    SELECT p_partkey, price_c, size
    FROM scan
    WHERE rn = 1 AND (best_prev IS NULL OR size > best_prev)
    """,
)
def win_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) over parts — cheapest-for-the-size /
    biggest-for-the-price, the multi-criteria shortlist every
    marketplace "show me the efficient options" query needs; a classic
    operator class relational algebra lacks (Börzsönyi et al.'s SKYLINE
    OF). In 2D it degenerates to ONE sorted window scan: ascending
    price with a running max of size — a row survives iff it strictly
    beats every cheaper row's size (rn=1 dedupes equal-price ties to
    the dominant row). Exact integer comparisons throughout.

    Scale shape: one global sort of (price, size, key) triples — the
    projected width is 24 bytes/row regardless of table width, and at
    100 TB the standard skyline distribution applies: partition-local
    skylines first (each partition's frontier is tiny), then the
    window pass over the unioned frontiers — the same
    partial-then-merge shape as every agg here; higher dimensions
    switch to the block-nested-loop skyline over the pruned set."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint").alias(
            "price_c"
        ),
        F.col("p_size").cast("bigint").alias("size"),
    )
    w_prev = Window.orderBy(
        "price_c", F.col("size").desc(), "p_partkey"
    ).rowsBetween(Window.unboundedPreceding, -1)
    w_tie = Window.partitionBy("price_c").orderBy(
        F.col("size").desc(), "p_partkey"
    )
    scan = p.select(
        "p_partkey",
        "price_c",
        "size",
        F.max("size").over(w_prev).alias("best_prev"),
        F.row_number().over(w_tie).alias("rn"),
    )
    return scan.filter(
        (F.col("rn") == 1)
        & (F.col("best_prev").isNull() | (F.col("size") > F.col("best_prev")))
    ).select("p_partkey", "price_c", "size")


@query(
    "win_sliding_hll",
    # The SKETCH-state variant of win_sliding_distinct — the shape that
    # actually runs at 10^9 users: ONE HLL sketch per (type, day), then
    # the <=7-day trailing merge unions SKETCHES (bytes, mergeable,
    # user set never re-deduped per window). DuckDB has no DataSketches
    # HLL, so (the agg_hll_sketch contract) the oracle hashes the EXACT
    # windowed distinct plus an always-true accuracy flag; the Spark
    # side computes both paths and validates the estimate in-query
    # (lgK=12 -> rse ~1.6%; 10% is ~6 sigma and the sketch is
    # deterministic per engine, so the flag is stable). A regression in
    # sketch build/union/estimate flips the flag and fails the hash.
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day
      FROM events),
    contrib AS (
      SELECT event_type, user_id, day + CAST(o.k AS INT) AS wend
      FROM ud CROSS JOIN (SELECT unnest(range(0, {_SLIDE_DAYS})) AS k) o),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT c.event_type, CAST(c.wend AS VARCHAR) AS window_end,
           COUNT(DISTINCT c.user_id) AS exact_users,
           TRUE AS est_within_10pct
    FROM contrib c JOIN days d ON c.wend = d.day
    GROUP BY c.event_type, c.wend
    """,
)
def win_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-day distinct users per event type via HLL sketch
    merge — the 100 TB posture for rolling reach/DAU: the fact is
    reduced ONCE to a (type, day) grid of fixed-size HLL sketches
    (hll_sketch_agg), and each trailing window is a union of ≤7
    sketches (hll_union_agg) — per-window state is KBs of sketch bytes
    instead of the window's user set, and day sketches are reusable
    across every window they serve (the same reuse that makes
    continuous aggregates work, time_rollup_hier). The exact twin
    (win_sliding_distinct) re-deduplicates users per window-end — fine
    until user sets stop fitting the agg hash table.

    Validation: the exact windowed count rides the same frame (the
    explode-to-windows topology), and the estimate must land within
    10% of it — the flag is hashed, so sketch regressions fail the
    oracle gate; accuracy is ~1.6% rse at lgK=12."""
    e = load(spark, sf_dir, "events")
    # day-grid sketches: ONE pass over the fact
    day_sk = (
        e.select(
            "event_type", "user_id", F.col("ts").cast("date").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    # fan each day sketch out to the <=7 window-ends it serves
    sk_contrib = day_sk.select(
        "event_type",
        "sk",
        F.explode(F.sequence(F.lit(0), F.lit(_SLIDE_DAYS - 1))).alias("k"),
        "day",
    ).select(
        "event_type", "sk", F.date_add(F.col("day"), F.col("k")).alias("wend")
    )
    days = e.select(F.col("ts").cast("date").alias("day")).distinct()
    est = (
        sk_contrib.join(F.broadcast(days), sk_contrib.wend == days.day)
        .groupBy("event_type", "wend")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
        )
    )
    # exact twin for the hashed in-query validation
    ud = e.select(
        "event_type", "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    exact = (
        ud.select(
            "event_type",
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(_SLIDE_DAYS - 1))).alias("k"),
            "day",
        )
        .select(
            "event_type",
            "user_id",
            F.date_add(F.col("day"), F.col("k")).alias("wend"),
        )
        .join(F.broadcast(days), F.col("wend") == days.day)
        .groupBy("event_type", "wend")
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        est.join(exact, ["event_type", "wend"])
        .select(
            "event_type",
            F.col("wend").cast("string").alias("window_end"),
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                <= 0.10 * F.col("exact_users")
            ).alias("est_within_10pct"),
        )
    )


_SKY3_BUCKETS = 16
_SKY3_CAND_CAP = 500_000  # loud-fail bound on the merged local skylines


def _sky3_dominates(q: str, p: str) -> str:
    """SQL dominance predicate for the (n_tok MAX, n_uniq MAX, len_c
    MIN) criteria: q weakly better everywhere, strictly somewhere."""
    return (
        f"{q}.n_tok >= {p}.n_tok AND {q}.n_uniq >= {p}.n_uniq "
        f"AND {q}.len_c <= {p}.len_c AND ({q}.n_tok > {p}.n_tok "
        f"OR {q}.n_uniq > {p}.n_uniq OR {q}.len_c < {p}.len_c)"
    )


@query(
    "win_skyline_3d",
    # 3D skyline for training-data curation: the Pareto frontier of
    # documents over (token count MAX, distinct-token count MAX, char
    # length MIN) — "the most token-diverse docs per byte". The oracle
    # is the direct quadratic dominance NOT EXISTS (fine at oracle
    # scale); the Spark side is the distributed two-phase skyline.
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_uniq,
             CAST(length(text) AS BIGINT) AS len_c
      FROM documents)
    SELECT doc_id, n_tok, n_uniq, len_c FROM m p
    WHERE NOT EXISTS (
      SELECT 1 FROM m q WHERE {_sky3_dominates('q', 'p')})
    """,
)
def win_skyline_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3D skyline (Pareto frontier) over documents — the multi-criteria
    curation shortlist: no other document has ≥ tokens AND ≥ distinct
    tokens AND ≤ characters (with one strict). Past 2D the one-pass
    window trick (win_skyline_2d) no longer exists, so this is the
    standard distributed two-phase skyline:

    1. Partition-local skylines: documents hash into
       {_SKY3_BUCKETS} deterministic buckets (crc32 of doc_id — never
       spark_partition_id, which is schedule-dependent even though the
       skyline itself is partition-invariant); each bucket's frontier
       is computed in ONE Arrow batch via applyInPandas (sort by
       (n_tok desc, n_uniq desc, len asc), then a keep-list scan — a
       kept point can only be dominated by an earlier kept point).
       Correctness: skyline(union) ⊆ union of local skylines, for ANY
       partitioning of the rows.
    2. Merge: the unioned local frontiers (tiny vs the corpus — guarded
       by a loud cap) self-prune with a broadcast LEFT ANTI nested-loop
       join on the dominance predicate — quadratic only in the
       candidate count, never in |corpus|.

    All three criteria are exact integers; the skyline set is unique,
    so the result is schedule-independent by construction."""
    import pandas as pd

    m = (
        load(spark, sf_dir, "documents")
        # fan the tokenize/distinct metric map out of the single input
        # split (guide §2.5)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.size(tokens()).cast("bigint").alias("n_tok"),
            F.size(F.array_distinct(tokens())).cast("bigint").alias("n_uniq"),
            F.length("text").cast("bigint").alias("len_c"),
            F.pmod(
                F.crc32(F.col("doc_id").cast("string")), _SKY3_BUCKETS
            ).alias("bkt"),
        )
        # pin the bucket shuffle width so the per-bucket Python skylines
        # don't all land on the ONE task AQE coalesces the tiny metric
        # exchange to (guide §2.2); satisfies applyInPandas's required
        # distribution, so no extra exchange
        .repartition(spark.sparkContext.defaultParallelism, "bkt")
    )

    def local_skyline(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tok", "n_uniq", "len_c", "doc_id"],
            ascending=[False, False, True, True],
        )
        kept: list[int] = []  # positional indices into the sorted frame
        nt = pdf["n_tok"].to_numpy()
        nu = pdf["n_uniq"].to_numpy()
        lc = pdf["len_c"].to_numpy()
        for i in range(len(pdf)):
            dominated = False
            for j in kept:
                if (
                    nt[j] >= nt[i]
                    and nu[j] >= nu[i]
                    and lc[j] <= lc[i]
                    and (nt[j] > nt[i] or nu[j] > nu[i] or lc[j] < lc[i])
                ):
                    dominated = True
                    break
            if not dominated:
                kept.append(i)
        return pdf.iloc[kept][["doc_id", "n_tok", "n_uniq", "len_c"]]

    cand, seen = checkpoint(
        m.groupBy("bkt").applyInPandas(
            local_skyline, "doc_id bigint, n_tok bigint, n_uniq bigint, len_c bigint"
        ),
        n=F.count(F.lit(1)),
    )
    if seen["n"] > _SKY3_CAND_CAP:  # loud even under python -O
        raise RuntimeError(
            f"win_skyline_3d: merged local skylines exceed the cap "
            f"({seen['n']} > {_SKY3_CAND_CAP}); raise _SKY3_BUCKETS"
        )
    p, q = cand.alias("p"), cand.alias("q")
    return p.join(
        F.broadcast(q), F.expr(_sky3_dominates("q", "p")), "left_anti"
    ).select("doc_id", "n_tok", "n_uniq", "len_c")


@query(
    "agg_bounce_rate",
    # Bounce rate per entry event type: sessionize (the win_sessionize
    # gaps-and-islands pass), take each session's ENTRY event type and
    # size, then rate = single-event sessions / sessions (one division
    # of exact int64s). first(event_type) per session is deterministic
    # via min_by on the (ts, event_id) total order.
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) AS us
      FROM events),
    f AS (
      SELECT user_id, event_id, event_type, us,
             CASE WHEN us - LAG(us) OVER w IS NULL
                       OR us - LAG(us) OVER w > 300000000
                  THEN 1 ELSE 0 END AS is_new
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (
      SELECT user_id, event_id, event_type, us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS sess
      FROM f),
    per AS (
      SELECT user_id, sess,
             min(struct_pack(us := us, eid := event_id,
                             et := event_type))['et'] AS entry_type,
             COUNT(*) AS n
      FROM s GROUP BY user_id, sess)
    SELECT entry_type,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0
                      / COUNT(*), 9) AS DOUBLE) AS bounce_rate
    FROM per GROUP BY entry_type
    """,
)
def agg_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry point — the landing-page health
    metric: of sessions that OPEN with each event type, what fraction
    end after that single event. Composes the win_sessionize
    gaps-and-islands pass (5-minute gap, one user-partitioned sort)
    with a per-session min_by entry pick and a ≤|types|-row rollup;
    the rate is one division of exact int64s.

    Scale shape: identical to win_sessionize — the user_id shuffle is
    the only wide op; sessions and the rollup are map-side-combinable
    hash aggs. Entry pick via lexicographic struct-min on the
    (us, event_id) total order (no second window pass)."""
    e = load(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("us", "event_id")
    o = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
    )
    gap = F.col("us") - F.lag("us").over(w_ord)
    f = o.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 300 * 1_000_000), 1).otherwise(0),
    )
    s = f.withColumn(
        "sess",
        F.sum("is_new").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per = s.groupBy("user_id", "sess").agg(
        F.min(
            F.struct(
                F.col("us"), F.col("event_id"), F.col("event_type")
            )
        )["event_type"].alias("entry_type"),
        F.count(F.lit(1)).alias("n"),
    )
    return per.groupBy("entry_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        round_dp(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
        )
        .cast("double")
        .alias("bounce_rate"),
    )


@query(
    "win_mann_kendall",
    # Mann-Kendall trend test per event_type on the daily-revenue grid:
    # S = sum over day pairs i<j of sign(x_j - x_i) — EXACT integer
    # (revenue in int64 cents, sign is pure comparison), so the
    # nonparametric sibling of agg_trend_ols has no float until the
    # final z. Tie correction: 18*Var(S) = n(n-1)(2n+5) - sum_t
    # t(t-1)(2t+5) over tied-value groups, exact int64; z applies the
    # standard +-1 continuity correction, one sqrt + division, 9dp.
    oracle="""
    WITH grid AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM grid a JOIN grid b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY a.event_type),
    ties AS (
      SELECT event_type,
             CAST(SUM(t * (t-1) * (2*t+5)) AS BIGINT) AS tie_corr
      FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
            FROM grid GROUP BY event_type, cents)
      GROUP BY event_type),
    n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM grid
      GROUP BY event_type)
    SELECT n.event_type, n.n_days, s.s_stat,
           CAST(n.n_days*(n.n_days-1)*(2*n.n_days+5) - t.tie_corr
                AS BIGINT) AS var_s_18,
           CAST(CASE
             WHEN s.s_stat > 0 THEN ROUND((s.s_stat - 1)
               / SQRT((n.n_days*(n.n_days-1)*(2*n.n_days+5) - t.tie_corr)
                      / 18.0), 9)
             WHEN s.s_stat < 0 THEN ROUND((s.s_stat + 1)
               / SQRT((n.n_days*(n.n_days-1)*(2*n.n_days+5) - t.tie_corr)
                      / 18.0), 9)
             ELSE 0.0 END AS DOUBLE) AS z
    FROM n JOIN s ON n.event_type = s.event_type
    JOIN ties t ON n.event_type = t.event_type
    """,
)
def win_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event_type — the NONPARAMETRIC
    monotone-trend detector next to agg_trend_ols' parametric slope
    (robust to outliers and any monotone transform; the standard test
    for 'is this metric drifting' in monitoring pipelines). S counts
    concordant minus discordant day pairs in exact integers; the
    tie-corrected variance stays in int64 (kept ×18 so it never
    divides); z is one sqrt + division with the ±1 continuity
    correction, 9dp.

    Scale shape: the event stream collapses to the (type, day) grid in
    ONE map-side-combinable hash agg; the O(days²) pair join runs on
    the GRID (≤365 rows/type/year — bounded by calendar, not corpus),
    partitioned by type. Tie groups are a second tiny grid agg. The
    same shape as time_acf: grid self-join, never a fact self-join."""
    e = load(spark, sf_dir, "events")
    # the grid feeds THREE consumers (pair join, tie agg, day count) —
    # localCheckpoint materializes it once so the fact is scanned once,
    # not three times (it is |types|·|days| rows, trivially cheap to pin)
    grid = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(round(value*100,0) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint()
    )
    a = grid.select(
        "event_type", F.col("day").alias("day_a"), F.col("cents").alias("ca")
    )
    b = grid.select(
        "event_type", F.col("day").alias("day_b"), F.col("cents").alias("cb")
    )
    s = (
        a.join(b, "event_type")
        .filter(F.col("day_a") < F.col("day_b"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        grid.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie_corr")
        )
    )
    n = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    j = n.join(s, "event_type").join(ties, "event_type")
    var18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie_corr")
    )
    sd = F.sqrt(var18 / 18.0)
    z = (
        F.when(F.col("s_stat") > 0, round_dp((F.col("s_stat") - 1) / sd))
        .when(F.col("s_stat") < 0, round_dp((F.col("s_stat") + 1) / sd))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "event_type",
        "n_days",
        "s_stat",
        var18.cast("bigint").alias("var_s_18"),
        z.cast("double").alias("z"),
    )


@query(
    "agg_peak_concurrency",
    # Peak concurrent sessions per event_type (capacity planning): user
    # sessions (5-minute-gap sessionization, same rule as
    # win_sessionize) become CLOSED integer-second intervals
    # [s_es, e_es]; the sweep converts them to half-open [s_es, e_es+1)
    # — +1 at s_es, -1 at e_es + 1 — so a zero-duration (single-second)
    # session still counts as open during its second, and ordering
    # markers by (second, delta) with ends first means a session ending
    # at e and another starting at e+1 never double-count. The running
    # sum's max is the peak; peak_at_es is the earliest second it is
    # reached. All integer epoch-second arithmetic, no floats anywhere.
    oracle="""
    WITH flagged AS (
      SELECT event_type, user_id, ts, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY event_type, user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 5 MINUTE
                  OR LAG(ts) OVER (PARTITION BY event_type, user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT event_type, user_id,
             SUM(is_new) OVER (PARTITION BY event_type, user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno,
             es
      FROM flagged),
    iv AS (
      SELECT event_type, MIN(es) AS s_es, MAX(es) AS e_es
      FROM sess GROUP BY event_type, user_id, sno),
    marks AS (
      SELECT event_type, s_es AS es, 1 AS delta FROM iv
      UNION ALL
      SELECT event_type, e_es + 1, -1 FROM iv),
    sweep AS (
      SELECT event_type, es,
             SUM(delta) OVER (PARTITION BY event_type ORDER BY es, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
      FROM marks),
    mx AS (
      SELECT event_type, CAST(MAX(cur) AS BIGINT) AS peak
      FROM sweep GROUP BY event_type),
    at AS (
      SELECT s.event_type, CAST(MIN(s.es) AS BIGINT) AS peak_at_es
      FROM sweep s JOIN mx ON s.event_type = mx.event_type
       AND s.cur = mx.peak
      GROUP BY s.event_type),
    ns AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM iv
      GROUP BY event_type)
    SELECT ns.event_type, ns.n_sessions, mx.peak, at.peak_at_es
    FROM ns JOIN mx ON ns.event_type = mx.event_type
    JOIN at ON ns.event_type = at.event_type
    """,
)
def agg_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event_type — 'how many user sessions of
    this type were open at once, and when did the peak first occur':
    the capacity-planning readout behind connection-pool and autoscaler
    sizing. Sessions come from the same 5-minute-gap rule as
    win_sessionize; each closed integer-second interval [s, e] sweeps
    as half-open [s, e+1) — +1 at s, -1 at e+1 — so a single-second
    session still counts as open during its second (the closed-interval
    -1-at-e variant silently reports peak=0 on zero-duration sessions,
    which dominate clickstream data). Ordering markers by (second,
    delta) processes ends before starts at the same instant, so a
    session ending at e and one starting at e+1 never double-count.
    Exact integer epoch seconds throughout — no floats anywhere.

    Scale shape: sessionization and the interval agg ride ONE
    (type, user) partitioning; markers are 2·|sessions| rows (data-
    bounded but session-, not event-, proportional); the sweep is a
    per-type ordered window — at 10⁹ sessions you range-partition time
    and prefix-offset the partials (the textbook distributed sweep);
    here types bound the partition count. The checkpointed interval
    table feeds markers, peak, peak-time, and the session count without
    re-sessionizing."""
    e = load(spark, sf_dir, "events")
    w_lag = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )

    def _pc_gap(w):
        # micro-exact gap, same recipe as win_sessionize (NTZ-safe)
        micros = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
        return micros - F.lag(micros).over(w)

    flagged = e.select(
        "event_type",
        "user_id",
        "ts",
        "event_id",
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("es"),
        F.when(
            _pc_gap(w_lag).isNull()
            | (_pc_gap(w_lag) > 300 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w_cum = (
        Window.partitionBy("event_type", "user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.select(
        "event_type",
        "user_id",
        F.sum("is_new").over(w_cum).alias("sno"),
        "es",
    )
    iv = (
        sess.groupBy("event_type", "user_id", "sno")
        .agg(F.min("es").alias("s_es"), F.max("es").alias("e_es"))
        .localCheckpoint()
    )
    marks = iv.select(
        "event_type", F.col("s_es").alias("es"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select(
            "event_type",
            (F.col("e_es") + 1).alias("es"),
            F.lit(-1).alias("delta"),
        )
    )
    w_sweep = (
        Window.partitionBy("event_type")
        .orderBy("es", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = marks.select(
        "event_type", "es", F.sum("delta").over(w_sweep).alias("cur")
    )
    mx = sweep.groupBy("event_type").agg(
        F.max("cur").cast("bigint").alias("peak")
    )
    at = (
        sweep.join(F.broadcast(mx), "event_type")
        .filter(F.col("cur") == F.col("peak"))
        .groupBy("event_type")
        .agg(F.min("es").cast("bigint").alias("peak_at_es"))
    )
    ns = iv.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    return (
        ns.join(mx, "event_type")
        .join(at, "event_type")
        .select("event_type", "n_sessions", "peak", "peak_at_es")
    )


@query(
    "win_theil_sen",
    # Theil-Sen robust trend per event_type: slope = MEDIAN of all
    # pairwise slopes (cents_j - cents_i)/(d_j - d_i) on the daily
    # grid (29% breakdown point — the estimator Mann-Kendall tests
    # for), intercept = median residual at the fitted slope. Pairwise
    # slopes are single divisions of exact int64s, so both engines
    # interpolate the SAME double multiset (quantile_cont twins, the
    # agg_mad_outliers contract); slope rounds 9dp only after the
    # median.
    oracle="""
    WITH grid AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2),
    slopes AS (
      SELECT a.event_type,
             (b.cents - a.cents) * 1.0 / (b.d - a.d) AS sl
      FROM grid a JOIN grid b
        ON a.event_type = b.event_type AND a.d < b.d),
    fit AS (
      SELECT event_type,
             ROUND(quantile_cont(sl, 0.5) / 100.0, 9) AS slope_per_day
      FROM slopes GROUP BY event_type),
    resid AS (
      SELECT g.event_type, f.slope_per_day,
             ROUND(g.cents / 100.0 - f.slope_per_day * g.d, 9) AS r
      FROM grid g JOIN fit f ON g.event_type = f.event_type),
    ic AS (
      SELECT event_type, MIN(slope_per_day) AS slope_per_day,
             ROUND(quantile_cont(r, 0.5), 9) AS intercept,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM resid GROUP BY event_type)
    SELECT event_type, n_days,
           CAST(slope_per_day AS DOUBLE) AS slope_per_day,
           CAST(intercept AS DOUBLE) AS intercept
    FROM ic
    """,
)
def win_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event_type — the median-of-pairwise-
    slopes estimator (29% breakdown point) that win_mann_kendall tests
    the significance of, and the robust counterpart to agg_trend_ols'
    least-squares line (one corrupted day cannot move it): slope =
    median of (Δcents/Δdays) over all day pairs, intercept = median
    residual at that slope. Pairwise slopes are single divisions of
    exact int64s, so both engines feed the SAME double multiset into
    the interpolated median (the quantile_cont-twin contract shared
    with agg_mad_outliers); rounding happens only after each median.

    Scale shape: the fact collapses once to the checkpointed
    (type, day) grid (shared shape with win_mann_kendall); the O(days²)
    slope pairs and both percentile aggregates run on the grid —
    calendar-bounded, never corpus-bounded. At 10⁹ events the plan is
    unchanged."""
    e = load(spark, sf_dir, "events")
    grid = (
        e.groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
            )
            .cast("bigint")
            .alias("d"),
        )
        .agg(
            F.sum(F.expr("CAST(round(value*100,0) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint()
    )
    a = grid.select(
        "event_type", F.col("d").alias("da"), F.col("cents").alias("ca")
    )
    b = grid.select(
        "event_type", F.col("d").alias("db"), F.col("cents").alias("cb")
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("da") < F.col("db"))
        .select(
            "event_type",
            ((F.col("cb") - F.col("ca")) / (F.col("db") - F.col("da"))).alias(
                "sl"
            ),
        )
    )
    fit = slopes.groupBy("event_type").agg(
        round_dp(F.expr("percentile(sl, 0.5)") / 100.0).alias(
            "slope_per_day"
        )
    )
    resid = grid.join(F.broadcast(fit), "event_type").select(
        "event_type",
        "slope_per_day",
        round_dp(
            F.col("cents") / 100.0 - F.col("slope_per_day") * F.col("d")
        ).alias("r"),
    )
    return (
        resid.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.min("slope_per_day").alias("slope_per_day"),
            round_dp(F.expr("percentile(r, 0.5)")).alias("intercept"),
        )
        .select(
            "event_type",
            "n_days",
            F.col("slope_per_day").cast("double").alias("slope_per_day"),
            F.col("intercept").cast("double").alias("intercept"),
        )
    )


# Holt-Winters additive step, shared between the Spark in-row fold and
# the oracle's recursive CTE. Dyadic smoothing constants (exact binary
# fractions) keep every multiply exact; the fold is sequential in both
# engines, so even once intermediates exceed 2^53 the IEEE rounding
# sequence is identical. State: (l, b, s1..s7) with s1 = the seasonal
# component the NEXT observation consumes (rotate left each step).
_HW_ALPHA, _HW_BETA, _HW_GAMMA = 0.5, 0.25, 0.5


@query(
    "win_holt_winters",
    # EXACT recursive Holt-Winters (no kernel truncation): the oracle
    # steps the recursion with a recursive CTE over (user, event index)
    # carrying the 9-column state — NOT DuckDB list_reduce, whose 1.0
    # lambda aliases the accumulator in place (later struct fields see
    # already-updated values; verified on this box). Spark runs the
    # same arithmetic as an in-row aggregate() fold over the user's
    # time-sorted cents array. Identical operation order -> identical
    # IEEE rounding -> bit-equal states; outputs round 9dp.
    oracle=f"""
    WITH RECURSIVE arr AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS i,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             CAST(CAST(round(value*100,0) AS BIGINT) AS DOUBLE) AS y
      FROM events),
    hw AS (
      SELECT user_id, i, n, y AS l, 0.0::DOUBLE AS b,
             0.0::DOUBLE AS s1, 0.0::DOUBLE AS s2, 0.0::DOUBLE AS s3,
             0.0::DOUBLE AS s4, 0.0::DOUBLE AS s5, 0.0::DOUBLE AS s6,
             0.0::DOUBLE AS s7
      FROM arr WHERE i = 1
      UNION ALL
      SELECT hw.user_id, a.i, hw.n,
             {_HW_ALPHA}*(a.y - hw.s1) + {1 - _HW_ALPHA}*(hw.l + hw.b),
             {_HW_BETA}*(({_HW_ALPHA}*(a.y - hw.s1)
                          + {1 - _HW_ALPHA}*(hw.l + hw.b)) - hw.l)
               + {1 - _HW_BETA}*hw.b,
             hw.s2, hw.s3, hw.s4, hw.s5, hw.s6, hw.s7,
             {_HW_GAMMA}*(a.y - ({_HW_ALPHA}*(a.y - hw.s1)
                                 + {1 - _HW_ALPHA}*(hw.l + hw.b)))
               + {1 - _HW_GAMMA}*hw.s1
      FROM hw JOIN arr a ON a.user_id = hw.user_id AND a.i = hw.i + 1)
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(ROUND(l / 100.0, 9) AS DOUBLE) AS level,
           CAST(ROUND(b / 100.0, 9) AS DOUBLE) AS trend,
           CAST(ROUND((l + b + s1) / 100.0, 9) AS DOUBLE) AS forecast_next
    FROM hw WHERE i = n
    """,
)
def win_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Holt-Winters triple exponential smoothing per user
    (additive, season length 7 over the event sequence; α=0.5 β=0.25
    γ=0.5 — deliberately dyadic) — the seasonal rung above
    win_holt_forecast, which is a TRUNCATED-kernel Holt; here the full
    recursion runs to the last observation with zero truncation,
    because the per-key fold executes IN-ROW over the user's
    time-sorted series (seasonal impulse responses decay too slowly
    for an honest fixed kernel — measured 25%+ tail mass, which is why
    the convolution route was rejected).

    Scale shape: ONE (user_id) shuffle builds the sorted per-user
    array; the whole recursion is then a single aggregate() fold inside
    the row — no iteration driver, no per-step shuffles, state is 9
    numbers. Per-user sequence lengths bound the in-row cost (hundreds
    here; a production pipeline windows the series first). Cross-engine
    equality is ORDER equality: the oracle's recursive CTE executes the
    identical arithmetic sequence, and sequential IEEE rounding is
    deterministic — the ordered-fold determinism argument (per-user
    sequences are bounded in-row state, so no occupancy cliff applies
    here), extended to a 3-component state."""
    e = load(spark, sf_dir, "events")
    arr = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "transform(sort_array(collect_list(struct(ts, event_id, "
            "CAST(CAST(round(value*100,0) AS BIGINT) AS DOUBLE) AS y))), "
            "x -> x.y)"
        ).alias("ys"),
    )
    a, ia = _HW_ALPHA, 1 - _HW_ALPHA
    bt, ib = _HW_BETA, 1 - _HW_BETA
    g, ig = _HW_GAMMA, 1 - _HW_GAMMA
    lnew = f"{a}*(x.l - element_at(acc.s, 1)) + {ia}*(acc.l + acc.b)"
    fold = f"""
    aggregate(
      slice(transform(ys, y -> struct(y AS l, CAST(0.0 AS DOUBLE) AS b,
            array(0D,0D,0D,0D,0D,0D,0D) AS s)), 2, size(ys) - 1),
      transform(ys, y -> struct(y AS l, CAST(0.0 AS DOUBLE) AS b,
            array(0D,0D,0D,0D,0D,0D,0D) AS s))[0],
      (acc, x) -> struct(
         {lnew} AS l,
         {bt}*(({lnew}) - acc.l) + {ib}*acc.b AS b,
         concat(slice(acc.s, 2, 6),
                array({g}*(x.l - ({lnew})) + {ig}*element_at(acc.s, 1)))
           AS s)
    )
    """
    st = arr.select(
        "user_id", "n_events", F.expr(fold).alias("st")
    )
    return st.select(
        "user_id",
        "n_events",
        round_dp(F.col("st.l") / 100.0).cast("double").alias("level"),
        round_dp(F.col("st.b") / 100.0).cast("double").alias("trend"),
        round_dp(
            (F.col("st.l") + F.col("st.b") + F.element_at(F.col("st.s"), 1))
            / 100.0,
        )
        .cast("double")
        .alias("forecast_next"),
    )


_BOLL_DAYS = 20  # Bollinger frame length (trading-day convention)


@query(
    "win_bollinger",
    # Bollinger bands over the per-type daily-revenue grid: the frame
    # mean and population variance come from exact integer frame sums
    # (sum and sum-of-squares in decimal/HUGEINT accumulators, so the
    # variance numerator n*Sxx - Sx^2 is EXACT at any day magnitude);
    # sqrt is the one transcendental, rounded 9dp, and every derived
    # band composes already-rounded doubles. %B uses the exact integer
    # numerator x*n - Sx; zero-variance frames pin %B to 0.5 via an
    # exact integer test.
    oracle=f"""
    WITH grid AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    fr AS (
      SELECT event_type, day, x,
             COUNT(*) OVER w AS n,
             SUM(CAST(x AS HUGEINT)) OVER w AS s_x,
             SUM(CAST(x AS HUGEINT) * x) OVER w AS s_x_x
      FROM grid
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {_BOLL_DAYS - 1} PRECEDING AND CURRENT ROW)),
    v AS (
      SELECT event_type, day, x, n, s_x,
             {comoment_sql("x", "x")} AS num,
             ROUND(SQRT(CAST({comoment_sql("x", "x")} AS DOUBLE)) / (n * 100.0), 9)
               AS sd,
             ROUND(CAST(s_x AS DOUBLE) / (n * 100.0), 9) AS mid
      FROM fr WHERE n = {_BOLL_DAYS})
    SELECT event_type, CAST(day AS VARCHAR) AS day, mid,
           CAST(sd AS DOUBLE) AS sd,
           CAST(ROUND(mid + 2 * sd, 9) AS DOUBLE) AS upper_band,
           CAST(ROUND(mid - 2 * sd, 9) AS DOUBLE) AS lower_band,
           CAST(CASE WHEN num = 0 THEN 0.5
                ELSE ROUND(CAST(x * n - s_x AS DOUBLE) / (n * 100.0)
                           / (4 * sd) + 0.5, 9) END AS DOUBLE) AS pct_b
    FROM v
    """,
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-day mean +/- 2 sigma) and %B position per
    event_type over daily revenue — the volatility envelope beside
    win_rsi / win_drawdown in the finance battery. Variance uses the
    one-pass identity n*Sxx - Sx^2 over EXACT integer frame sums held
    in decimal(38,0) accumulators (HUGEINT on the oracle side), so the
    only floats are one sqrt and the band compositions of
    already-rounded values; flat frames (num = 0, an exact integer
    test) pin %B to 0.5.

    Scale shape: one map-side-combinable hash agg to the (type, day)
    grid, then a single trailing frame over the per-type day sort —
    identical topology to win_rsi; agg state is O(1) per frame (two
    sums), never a materialized window list."""
    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    grid = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents).cast("bigint").alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_BOLL_DAYS - 1), Window.currentRow)
    )
    xd = F.col("x").cast("decimal(38,0)")
    fr = grid.select(
        "event_type",
        "day",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(xd).over(w).alias("s_x"),
        F.sum(xd * F.col("x")).over(w).alias("s_x_x"),
    ).filter(F.col("n") == _BOLL_DAYS)
    num = comoment("x", "x")
    v = fr.select(
        "event_type",
        "day",
        "x",
        "n",
        "s_x",
        num.alias("num"),
        round_dp(F.sqrt(num.cast("double")) / (F.col("n") * 100.0)).alias("sd"),
        round_dp(F.col("s_x").cast("double") / (F.col("n") * 100.0)).alias(
            "mid"
        ),
    )
    pct_b = F.when(F.col("num") == 0, F.lit(0.5)).otherwise(
        round_dp(
            (F.col("x") * F.col("n") - F.col("s_x")).cast("double")
            / (F.col("n") * 100.0)
            / (4 * F.col("sd"))
            + 0.5,
        )
    )
    return v.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "mid",
        F.col("sd").cast("double").alias("sd"),
        round_dp(F.col("mid") + 2 * F.col("sd"))
        .cast("double")
        .alias("upper_band"),
        round_dp(F.col("mid") - 2 * F.col("sd"))
        .cast("double")
        .alias("lower_band"),
        pct_b.cast("double").alias("pct_b"),
    )


# 1D Kalman constants (cents^2 units). Dyadic so the gain expression is
# built from exact binary fractions; the fold is sequential in both
# engines, so the IEEE rounding sequence is identical (the
# win_holt_winters determinism argument).
_KF_Q, _KF_R = 256.0, 4096.0


@query(
    "win_kalman_1d",
    # 1D constant-level Kalman filter per user over the time-sorted
    # event values: predict P+Q, gain K = (P+Q)/(P+Q+R), update
    # x' = x + K(y-x), P' = (1-K)(P+Q); init x = first value, P = R.
    # The oracle steps the identical recursion via a recursive CTE
    # carrying (x, P, K); Spark runs one in-row aggregate() fold.
    oracle=f"""
    WITH RECURSIVE arr AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS i,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             CAST(CAST(round(value*100,0) AS BIGINT) AS DOUBLE) AS y
      FROM events),
    kf AS (
      SELECT user_id, i, n, y AS x, {_KF_R}::DOUBLE AS p, 0.0::DOUBLE AS k
      FROM arr WHERE i = 1
      UNION ALL
      SELECT kf.user_id, a.i, kf.n,
             kf.x + ((kf.p + {_KF_Q}) / (kf.p + {_KF_Q} + {_KF_R}))
                    * (a.y - kf.x),
             (1.0 - (kf.p + {_KF_Q}) / (kf.p + {_KF_Q} + {_KF_R}))
               * (kf.p + {_KF_Q}),
             (kf.p + {_KF_Q}) / (kf.p + {_KF_Q} + {_KF_R})
      FROM kf JOIN arr a ON a.user_id = kf.user_id AND a.i = kf.i + 1)
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(ROUND(x / 100.0, 9) AS DOUBLE) AS level,
           CAST(ROUND(p, 9) AS DOUBLE) AS variance,
           CAST(ROUND(k, 9) AS DOUBLE) AS last_gain
    FROM kf WHERE i = n
    """,
)
def win_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1D Kalman filter (constant-level state-space model) per user
    over event values — the optimal-gain cousin of win_ewma: instead of
    a fixed smoothing constant, the gain K adapts from the error
    covariance recursion (P converges to the steady-state Riccati
    fixpoint, so the filter trusts data exactly as much as the noise
    ratio Q/R warrants — the principled version of 'pick alpha').

    Scale shape: ONE (user_id) shuffle builds the sorted per-user
    array; the full predict/update recursion is a single in-row
    aggregate() fold with 3-number state — no iteration driver, no
    per-step shuffles. Cross-engine equality is order equality: the
    oracle's recursive CTE executes the identical arithmetic sequence
    and sequential IEEE rounding is deterministic (the
    win_holt_winters argument; per-user series are bounded in-row
    state)."""
    e = load(spark, sf_dir, "events")
    arr = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "transform(sort_array(collect_list(struct(ts, event_id, "
            "CAST(CAST(round(value*100,0) AS BIGINT) AS DOUBLE) AS y))), "
            "x -> x.y)"
        ).alias("ys"),
    )
    q, r = _KF_Q, _KF_R
    gain = f"(acc.p + {q}) / (acc.p + {q} + {r})"
    fold = f"""
    aggregate(
      slice(ys, 2, size(ys) - 1),
      struct(ys[0] AS x, CAST({r} AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS k),
      (acc, yv) -> struct(
         acc.x + ({gain}) * (yv - acc.x) AS x,
         (1.0 - {gain}) * (acc.p + {q}) AS p,
         {gain} AS k)
    )
    """
    st = arr.select("user_id", "n_events", F.expr(fold).alias("st"))
    return st.select(
        "user_id",
        "n_events",
        round_dp(F.col("st.x") / 100.0).cast("double").alias("level"),
        round_dp(F.col("st.p")).cast("double").alias("variance"),
        round_dp(F.col("st.k")).cast("double").alias("last_gain"),
    )


@query(
    "win_vwap",
    # Volume-weighted average price per brand x ship-month, with the
    # cumulative (anchored) VWAP over each brand's month series: both
    # ratios are exact int64/decimal integer sums (price cents x
    # integer quantity). The 4dp rounding is PURE INTEGER HALF-UP:
    # (pv*200 + v) div (2*v) — engine ROUND() on doubles disagrees at
    # exact 4dp ties (banker's vs half-up, hit by this very fixture),
    # while integer div is bit-identical everywhere; the only float op
    # is the final /1e4 of an exact integer.
    oracle="""
    WITH li AS (
      SELECT p.p_brand AS brand,
             strftime(l.l_shipdate, '%Y-%m') AS ym,
             CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS pc,
             CAST(round(l.l_quantity, 0) AS BIGINT) AS q
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    grid AS (
      SELECT brand, ym,
             CAST(SUM(CAST(pc AS HUGEINT) * q) AS HUGEINT) AS pv,
             CAST(SUM(q) AS BIGINT) AS v
      FROM li GROUP BY brand, ym),
    c AS (
      SELECT brand, ym, pv, v,
             SUM(pv) OVER w AS cpv, SUM(v) OVER w AS cv
      FROM grid
      WINDOW w AS (PARTITION BY brand ORDER BY ym
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT brand, ym,
           CAST(v AS BIGINT) AS volume,
           CAST(CAST((pv * 200 + v) // (2 * v) AS DOUBLE) / 10000.0 AS DOUBLE)
             AS vwap,
           CAST(CAST((cpv * 200 + cv) // (2 * cv) AS DOUBLE) / 10000.0
             AS DOUBLE) AS anchored_vwap
    FROM c
    """,
)
def win_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per brand and ship-month plus the
    anchored (cumulative) VWAP — the execution-quality benchmark of
    every trading/pricing stack, here over order-line flow: VWAP is a
    RATIO OF SUMS, so both the monthly and anchored variants are exact
    integer accumulations (price cents x integer quantity in decimal/
    HUGEINT — the product passes 2^63 at warehouse scale) with ONE
    division each at the end, expressed as pure-integer HALF-UP 4dp
    rounding ((pv*200+v) div (2*v)) because engine ROUND() on doubles
    diverges at exact 4dp ties and 9dp on ~5e4-dollar values exceeds
    double precision.

    Scale shape: part dim broadcasts into the fact scan, one
    map-side-combinable hash agg to the (brand, month) grid, then a
    cumulative frame over each brand's <=|months| rows — the win_rsi
    grid posture with an unbounded-preceding frame. Never a per-row
    running division, never a float accumulation."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.date_format("l_shipdate", "yyyy-MM").alias("ym"),
        F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias("pc"),
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("q"),
    )
    grid = j.groupBy("brand", "ym").agg(
        F.sum(F.col("pc").cast("decimal(38,0)") * F.col("q")).alias("pv"),
        F.sum("q").cast("bigint").alias("v"),
    )
    w = (
        Window.partitionBy("brand")
        .orderBy("ym")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = grid.select(
        "brand",
        "ym",
        "pv",
        "v",
        F.sum("pv").over(w).alias("cpv"),
        F.sum("v").over(w).alias("cv"),
    )
    return c.select(
        "brand",
        "ym",
        F.col("v").alias("volume"),
        (
            F.expr("(pv * 200 + v) div (2 * v)").cast("double") / 10000.0
        )
        .cast("double")
        .alias("vwap"),
        (
            F.expr("(cpv * 200 + cv) div (2 * cv)").cast("double") / 10000.0
        )
        .cast("double")
        .alias("anchored_vwap"),
    )


@query(
    "win_ulcer_index",
    # Ulcer index per event_type over the daily cumulative-revenue
    # curve: percentage drawdown from the running peak (win_drawdown's
    # per-day companion), squared, mean-quantized, one sqrt. The
    # drawdown ratio divides two exact int64 running sums; each squared
    # percentage is 9dp-rounded then nano-quantized so the mean is an
    # order-independent integer sum.
    oracle="""
    WITH grid AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    c0 AS (
      SELECT event_type, day,
             SUM(x) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM grid),
    c AS (
      SELECT event_type, day, cum,
             MAX(cum) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM c0),
    dd AS (
      SELECT event_type,
             CAST(ROUND(ROUND(100.0 * (peak - cum) / peak, 9)
                        * ROUND(100.0 * (peak - cum) / peak, 9) * 1e9, 0)
               AS BIGINT) AS q
      FROM c)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(ROUND(SQRT(SUM(q) / (COUNT(*) * 1e9)), 9) AS DOUBLE)
             AS ulcer_index
    FROM dd GROUP BY event_type
    """,
)
def win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index per event_type — the downside-risk metric that
    penalizes DEPTH x DURATION of drawdowns (win_drawdown reports the
    worst single dip; the ulcer index is the RMS of the whole
    percentage-drawdown curve, the denominator of the Martin ratio):
    UI = sqrt(mean(dd_pct^2)) over the daily cumulative-revenue series.

    Determinism: cum and peak are exact int64 running sums sharing one
    per-type day sort; each percentage drawdown is one division of
    exact ints, 9dp; the squares are nano-quantized so the mean is an
    order-independent integer sum; one sqrt at the end. Scale shape:
    the win_rsi grid posture — one hash agg, two stacked windows on
    one sort, one final agg."""
    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    grid = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents).cast("bigint").alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = grid.select(
        "event_type",
        "day",
        F.sum("x").over(w).alias("cum"),
    ).select(
        "event_type",
        "day",
        "cum",
        F.max("cum").over(w).alias("peak"),
    )
    ddp = round_dp(100.0 * (F.col("peak") - F.col("cum")) / F.col("peak"))
    q = F.round(ddp * ddp * F.lit(1e9), 0).cast("long")
    return (
        c.select("event_type", q.alias("q"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            round_dp(F.sqrt(F.sum("q") / (F.count(F.lit(1)) * F.lit(1e9))))
            .cast("double")
            .alias("ulcer_index"),
        )
    )
