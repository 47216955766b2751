"""Ordered-event sequence mining (SURVEY §2.12).

Clickstream/session-sequence analytics over the ``events`` table: Markov
transition estimation, frequent-path mining, interval-union coverage
(gaps-and-islands), and seasonal indexing. The reference's event surface
is reconstructed (SURVEY §0.1); these are the standard sequence-mining
battery every event-analytics engine ships.

Scale notes: every operator here is one window pass over
(user_id-partitioned, ts-ordered) events plus a hash aggregation whose
output domain is tiny (|event_type| ≤ 5 ⇒ ≤25 transition cells, ≤125
paths, 24 hours). Per-user partitions are bounded (human-scale event
counts), so the window sort never concentrates; the aggregates are
map-side-combinable. Nothing is quadratic in events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.stable import (
    moment_sums,
    moment_sums_sql,
    pearson,
    pearson_sql,
    py_round_dp,
    round_dp,
    round_dp_sql,
)
from ..registry import query
from ..sources.tables import load

# Exact epoch-microseconds of the NTZ wall clock. Absolute values are
# session-tz-shifted vs DuckDB's epoch_us, but every use below is
# delta/comparison-only, so the constant shift cancels (same posture as
# win_lag_lead's ms_since_prev).
_TS_US = "unix_micros(CAST(ts AS TIMESTAMP))"


@query(
    "seq_markov_chain",
    # First-order Markov transition matrix over each user's time-ordered
    # event stream. cnt/tot is one double division of exact int64s ->
    # bit-identical across engines and aggregation orders.
    oracle="""
    WITH seq AS (
      SELECT event_type AS curr,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events
    )
    SELECT prev, curr, COUNT(*) AS cnt,
           CAST(ROUND(COUNT(*) * 1.0 /
                SUM(COUNT(*)) OVER (PARTITION BY prev), 9) AS DOUBLE) AS prob
    FROM seq WHERE prev IS NOT NULL
    GROUP BY prev, curr
    """,
)
def seq_markov_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov chain of event types (next-action model — the
    classic clickstream personalization/anomaly baseline). One window
    pass builds (prev, curr) bigrams per user; a hash agg counts them;
    row-normalized probabilities come from a window sum over the ≤25-row
    transition table, so the second window is over an already-tiny
    aggregate, never the fact. event_id tiebreak keeps the ordering
    regeneration-proof."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.lag("event_type").over(w).alias("prev"),
            F.col("event_type").alias("curr"),
        )
        .where(F.col("prev").isNotNull())
        .groupBy("prev", "curr")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = Window.partitionBy("prev")
    return pairs.select(
        "prev",
        "curr",
        "cnt",
        round_dp(F.col("cnt") / F.sum("cnt").over(tot)).alias("prob"),
    )


@query(
    "seq_topk_paths",
    # Top-10 3-step paths with (cnt DESC, path ASC) total order -> the
    # LIMIT is deterministic in both engines.
    oracle="""
    WITH seq AS (
      SELECT LAG(event_type, 2) OVER w AS a,
             LAG(event_type, 1) OVER w AS b,
             event_type AS c
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT a || '>' || b || '>' || c AS path, COUNT(*) AS cnt
    FROM seq WHERE a IS NOT NULL
    GROUP BY 1
    ORDER BY cnt DESC, path
    LIMIT 10
    """,
)
def seq_topk_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-path mining: the 10 most common 3-event subsequences
    across user streams (funnel discovery — which journeys actually
    happen, vs funnel_stages which checks a prescribed one). The path
    domain is |event_type|^3 ≤ 125 rows after the map-side-combined
    count, so the global top-10 is a TakeOrdered over a trivial set; the
    only full-data work is the one shared user-window pass."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            F.lag("event_type", 2).over(w).alias("a"),
            F.lag("event_type", 1).over(w).alias("b"),
            F.col("event_type").alias("c"),
        )
        .where(F.col("a").isNotNull())
        .select(F.concat_ws(">", "a", "b", "c").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "path")
        .limit(10)
    )


@query(
    "time_interval_merge",
    # Gaps-and-islands interval union: an interval starts a new island
    # iff its start exceeds the running max end of all earlier intervals
    # (ROWS .. 1 PRECEDING). All arithmetic is exact int64 micros;
    # outputs are deltas/counts, so the session-tz epoch shift cancels.
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(ROUND(value * 1000000, 0) AS BIGINT) AS e
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS is_new
      FROM iv
    ), islands AS (
      SELECT user_id, s, e,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM flagged
    ), merged AS (
      SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, COUNT(*) AS n_merged,
           CAST(SUM(me - ms) AS BIGINT) AS covered_us,
           MAX(me - ms) AS longest_us
    FROM merged GROUP BY user_id
    """,
)
def time_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interval-union coverage: each event spans [ts, ts +
    value seconds]; overlapping spans merge (the classic
    gaps-and-islands sweep — resource utilization / on-screen time /
    machine uptime). One user-partitioned sort feeds both window passes
    (running-max-end island detection, then running island id); the
    merge itself is a hash agg on (user, island). No self-join — the
    naive interval-overlap join is O(n²) per user and this is O(n log
    n), the only shape that survives dense per-key interval counts."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(_TS_US).alias("s"),
        (
            F.expr(_TS_US)
            + F.expr("CAST(ROUND(value * 1000000, 0) AS BIGINT)")
        ).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = e.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("is_new").over(w_run).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_merged"),
        F.sum(F.col("me") - F.col("ms")).alias("covered_us"),
        F.max(F.col("me") - F.col("ms")).alias("longest_us"),
    )


@query(
    "time_seasonal_index",
    # Seasonal index = hour-mean / series-mean, computed as one double
    # division of exact int64 cross-products (cents·Σn)/(n·Σcents) so
    # no intermediate float mean exists to disagree on.
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, hr, n,
           CAST(ROUND((cents * SUM(n) OVER (PARTITION BY event_type) * 1.0) /
                (n * SUM(cents) OVER (PARTITION BY event_type)), 9) AS DOUBLE)
             AS seasonal_index
    FROM h
    """,
)
def time_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal decomposition (index form): per event_type,
    each hour's mean value relative to the series mean — the
    detrend/deseasonalize building block (index > 1 ⇒ hot hour). The
    fact table collapses to ≤ |types|×24 cells in one partial-agg pass;
    the normalizing window runs over that tiny aggregate. Hour is taken
    from the NTZ wall clock, identical in both engines. The int64
    cross-product keeps the division exact-input: max |cents·Σn| ≈
    1e8·1e5 ≪ 2^63 at sf0.1 (and a 1000× fact still fits)."""
    e = load(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).alias("cents"),
    )
    w = Window.partitionBy("event_type")
    return h.select(
        "event_type",
        "hr",
        "n",
        round_dp(
            (F.col("cents") * F.sum("n").over(w)).cast("double")
            / (F.col("n") * F.sum("cents").over(w)),
        ).alias("seasonal_index"),
    )


@query(
    "funnel_time_to_convert",
    # First 'view' -> first subsequent 'purchase' per user; deltas are
    # exact int64 micros; both engines linearly interpolate exact
    # percentiles over the same int set (quantile_cont = F.percentile).
    oracle="""
    WITH fv AS (
      SELECT user_id, MIN(epoch_us(ts)) AS v_us
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), fp AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) - MAX(fv.v_us) AS delta_us
      FROM events e JOIN fv ON e.user_id = fv.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.v_us
      GROUP BY e.user_id
    )
    SELECT COUNT(*) AS n_converted,
           MIN(delta_us) AS min_us,
           CAST(ROUND(quantile_cont(delta_us, 0.5), 4) AS DOUBLE) AS median_us,
           CAST(ROUND(quantile_cont(delta_us, 0.9), 4) AS DOUBLE) AS p90_us,
           MAX(delta_us) AS max_us
    FROM fp
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the gap between the
    first 'view' and the first 'purchase' strictly after it, summarized
    as count/min/median/p90/max (funnel_stages counts WHO converts;
    this measures HOW FAST — the other half of every funnel dashboard).

    Plan: first-view is a window MIN over user_id; the purchase filter
    reuses the same user_id shuffle; the final summary aggregates
    |users| rows. No events×events self-join — the naive formulation
    joins the fact to itself on user and this stays one shuffle. The
    oracle's MAX(fv.v_us) inside fp is a no-op (v_us is per-user
    unique) required only because SQL GROUP BY can't reference the
    joined scalar directly."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(_TS_US).alias("us")
    )
    w_user = Window.partitionBy("user_id")
    first_view = F.min(
        F.when(F.col("event_type") == "view", F.col("us"))
    ).over(w_user)
    deltas = (
        e.withColumn("v_us", first_view)
        .where(
            (F.col("event_type") == "purchase")
            & F.col("v_us").isNotNull()
            & (F.col("us") > F.col("v_us"))
        )
        .groupBy("user_id")
        .agg((F.min("us") - F.first("v_us")).alias("delta_us"))
    )
    return deltas.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("delta_us").alias("min_us"),
        round_dp(F.percentile("delta_us", F.lit(0.5)), 4).alias("median_us"),
        round_dp(F.percentile("delta_us", F.lit(0.9)), 4).alias("p90_us"),
        F.max("delta_us").alias("max_us"),
    )


@query(
    "agg_survival_curve",
    # Survival function of user lifetimes (days between first and last
    # event): S(t) = #users with lifetime >= t / #users. The descending
    # cumulative window runs over the <=|days| lifetime grid.
    oracle="""
    WITH lt AS (
      SELECT user_id,
             date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
               AS lifetime
      FROM events GROUP BY user_id
    ),
    d AS (SELECT lifetime, COUNT(*) AS n FROM lt GROUP BY lifetime),
    t AS (SELECT COUNT(*) AS total FROM lt)
    SELECT CAST(lifetime AS BIGINT) AS lifetime_days,
           CAST(SUM(n) OVER (ORDER BY lifetime DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_surviving,
           CAST(ROUND(CAST(SUM(n) OVER (ORDER BY lifetime DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / t.total, 9) AS DOUBLE) AS survival
    FROM d CROSS JOIN t
    """,
)
def agg_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention survival curve: S(t) = fraction of users whose observed
    lifetime (first→last event) reaches t days — the aggregate
    complement of win_retention_cohort's per-cohort matrix (churn teams
    read S directly). One hash agg collapses the fact to |users| rows,
    a second to the ≤|days| lifetime grid; the descending cumulative
    window and the total-count broadcast operate on that grid only.
    Counts exact int64; one double division per row."""
    e = load(spark, sf_dir, "events")
    lt = e.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date"))
        ).alias("lifetime")
    )
    d = lt.groupBy("lifetime").agg(F.count(F.lit(1)).alias("n"))
    t = lt.agg(F.count(F.lit(1)).alias("total"))
    w = (
        Window.orderBy(F.col("lifetime").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.crossJoin(F.broadcast(t)).select(
        F.col("lifetime").cast("bigint").alias("lifetime_days"),
        F.sum("n").over(w).alias("n_surviving"),
        round_dp(F.sum("n").over(w).cast("double") / F.col("total")).alias("survival"),
    )


_KM_WINDOW_H = 72  # Type-I administrative censoring horizon (hours)


@query(
    "agg_survival_km",
    # Kaplan-Meier product-limit estimator on hours-to-first-purchase
    # with Type-I (administrative, 72 h) right-censoring: a user whose
    # first purchase lands inside the window dies at that hour; everyone
    # else is censored at min(observed lifetime, 72 h) — in observation,
    # not converted. S(t) steps only at death hours via Π (n_i-d_i)/n_i.
    # Durations are exact int64 hour buckets of µs deltas; each factor
    # is one double division of exact ints; both engines run the product
    # over the SAME ascending hour order and cumulative frame, and
    # round(9) absorbs last-ulp accumulation differences.
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             MIN(epoch_us(ts)) AS t0,
             MAX(epoch_us(ts)) AS tl,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS fp
      FROM events GROUP BY user_id
    ),
    dur AS (
      SELECT CASE WHEN fp IS NOT NULL
                   AND (fp - t0) // 3600000000 <= {_KM_WINDOW_H}
                  THEN (fp - t0) // 3600000000
                  ELSE LEAST((tl - t0) // 3600000000, {_KM_WINDOW_H})
             END AS t,
             CASE WHEN fp IS NOT NULL
                   AND (fp - t0) // 3600000000 <= {_KM_WINDOW_H}
                  THEN 1 ELSE 0 END AS death
      FROM u
    ),
    grid AS (
      SELECT t, COUNT(*) AS n, SUM(death) AS d FROM dur GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             SUM(n) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk
      FROM grid
    )
    SELECT CAST(t AS BIGINT) AS hour,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_deaths,
           CAST(ROUND(product(CAST(at_risk - d AS DOUBLE) / at_risk) OVER (
                 ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9)
                AS DOUBLE) AS km_survival
    FROM risk WHERE d > 0
    """,
)
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival with right-censoring — the
    censored-data sibling of agg_survival_curve (which treats every
    observed lifetime as complete). Duration = hours from a user's first
    event to their first purchase, administratively censored at 72 h
    (Type I): users who convert later — or leave observation earlier —
    stay in the at-risk denominator up to their censoring hour without
    counting a conversion, removing the bias of the naive curve.

    Plan shape mirrors agg_survival_curve: one hash agg to |users|
    (conditional-min aggregates, exact int64 µs), one to the ≤72-cell
    hour grid; the descending at-risk cumsum, the d>0 filter, and the
    ascending product window all run on that grid only. The windowed
    product is the only float chain and is 9dp-rounded. Wall-clock
    epoch_us differs from Spark's unix_micros by the fixed session-tz
    shift, which cancels in the t-t0 deltas (the §2.12 _TS_US posture)."""
    e = load(spark, sf_dir, "events")
    us = F.expr(_TS_US)
    u = e.groupBy("user_id").agg(
        F.min(us).alias("t0"),
        F.max(us).alias("tl"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("fp"),
    )
    fp_h = F.expr(f"(fp - t0) div 3600000000")
    life_h = F.expr(f"(tl - t0) div 3600000000")
    is_death = F.col("fp").isNotNull() & (fp_h <= _KM_WINDOW_H)
    dur = u.select(
        F.when(is_death, fp_h)
        .otherwise(F.least(life_h, F.lit(_KM_WINDOW_H)))
        .alias("t"),
        is_death.cast("int").alias("death"),
    )
    grid = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"), F.sum("death").alias("d")
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.select(
        "t", "d", F.sum("n").over(w_desc).alias("at_risk")
    ).filter(F.col("d") > 0)
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    factor = (F.col("at_risk") - F.col("d")).cast("double") / F.col("at_risk")
    return risk.select(
        F.col("t").cast("bigint").alias("hour"),
        F.col("at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_deaths"),
        round_dp(F.product(factor).over(w_asc)).alias("km_survival"),
    )


@query(
    "win_streaks",
    # Consecutive-day activity streaks per user: the classic
    # date-minus-row_number gaps-and-islands (consecutive days share a
    # constant difference), over the deduped (user, day) grid.
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    g AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
      FROM ud
    ),
    s AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY user_id, grp)
    SELECT user_id, COUNT(*) AS n_streaks, MAX(len) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM s GROUP BY user_id
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (engagement /
    habit metric; the daily-grain sibling of win_sessionize's intra-day
    gaps). distinct(user, day) collapses the fact first, so the window
    sorts ≤|users|×|days| rows; consecutive days then share a constant
    (day − row_number) — one window pass + two hash aggs, no self-join
    against shifted copies. All outputs exact int64."""
    e = load(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = ud.withColumn("grp", F.expr("date_sub(day, row_number() OVER (PARTITION BY user_id ORDER BY day))"))
    s = g.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.sum("len").alias("active_days"),
    )


@query(
    "agg_rfm_segments",
    # RFM segmentation with BROADCAST quintile boundaries (exact
    # interpolated percentiles), NOT a global ntile: ntile needs a
    # single-partition sort of the full user table, boundaries need a
    # 4-scalar broadcast — only the latter survives a billion users.
    oracle="""
    WITH m AS (
      SELECT user_id,
             date_diff('day', CAST(MAX(ts) AS DATE),
                       (SELECT CAST(MAX(ts) AS DATE) FROM events)) AS recency,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS frequency,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS monetary
      FROM events GROUP BY user_id
    ),
    q AS (
      SELECT quantile_cont(recency, 0.2) AS r1, quantile_cont(recency, 0.4) AS r2,
             quantile_cont(recency, 0.6) AS r3, quantile_cont(recency, 0.8) AS r4,
             quantile_cont(frequency, 0.2) AS f1, quantile_cont(frequency, 0.4) AS f2,
             quantile_cont(frequency, 0.6) AS f3, quantile_cont(frequency, 0.8) AS f4,
             quantile_cont(monetary, 0.2) AS m1, quantile_cont(monetary, 0.4) AS m2,
             quantile_cont(monetary, 0.6) AS m3, quantile_cont(monetary, 0.8) AS m4
      FROM m
    )
    SELECT user_id, recency, frequency, monetary,
           1 + CAST(recency > q.r1 AS INT) + CAST(recency > q.r2 AS INT)
             + CAST(recency > q.r3 AS INT) + CAST(recency > q.r4 AS INT) AS r_bucket,
           1 + CAST(frequency > q.f1 AS INT) + CAST(frequency > q.f2 AS INT)
             + CAST(frequency > q.f3 AS INT) + CAST(frequency > q.f4 AS INT) AS f_bucket,
           1 + CAST(monetary > q.m1 AS INT) + CAST(monetary > q.m2 AS INT)
             + CAST(monetary > q.m3 AS INT) + CAST(monetary > q.m4 AS INT) AS m_bucket
    FROM m CROSS JOIN q
    """,
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation — the classic
    customer-base cut. One hash agg builds the |users| metric table;
    quintile BOUNDARIES (exact interpolated percentiles, 12 scalars)
    broadcast back for bucket assignment by comparison. Deliberately
    not ntile: a global ntile sorts the whole user table in one
    partition, boundary-broadcast assignment is embarrassingly
    parallel — the only shape that survives 10⁹ users. recency anchors
    to the corpus max day (broadcast scalar), metrics exact int64, and
    boundary comparisons int-vs-interpolated-double are identical in
    both engines."""
    e = load(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.col("ts").cast("date")).alias("anchor"))
    m = (
        e.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_day"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "frequency"
            ),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)"),
                    )
                ),
                F.lit(0),
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("anchor", "last_day").alias("recency"),
            "frequency",
            "monetary",
        )
    )
    q = m.agg(
        *[
            F.percentile(c, F.lit(p)).alias(f"{c[0]}{i}")
            for c in ("recency", "frequency", "monetary")
            for i, p in enumerate((0.2, 0.4, 0.6, 0.8), start=1)
        ]
    )

    def bucket(col: str) -> F.Column:
        acc = F.lit(1)
        for i in range(1, 5):
            acc = acc + (F.col(col) > F.col(f"{col[0]}{i}")).cast("int")
        return acc.alias(f"{col[0]}_bucket")

    return m.crossJoin(F.broadcast(q)).select(
        "user_id",
        "recency",
        "frequency",
        "monetary",
        bucket("recency"),
        bucket("frequency"),
        bucket("monetary"),
    )


_ATTR_WINDOW_H = 72  # attribution lookback (hours)


@query(
    "agg_attribution",
    # Multi-touch attribution over the 72 h pre-purchase window: each
    # purchase credits its touches (click/view/signup) twice — linear
    # (1/n each) and last-touch (1 to the latest, ts then event_id
    # tie-break). The linear float sum is made deterministic by first
    # collapsing to (channel, n) -> cnt cells (exact ints) and folding
    # cnt/n in ascending-n order — a <=|distinct n| fold, never a
    # million-element float reduction.
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id AS pid, epoch_us(ts) AS pt FROM events
      WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, event_id AS tid, event_type AS channel,
             epoch_us(ts) AS tt
      FROM events WHERE event_type IN ('click', 'view', 'signup')
    ),
    touch AS (
      SELECT p.pid, t.channel, t.tt, t.tid
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.tt >= p.pt - {_ATTR_WINDOW_H} * 3600000000::BIGINT
       AND t.tt < p.pt
    ),
    ranked AS (
      SELECT pid, channel,
             COUNT(*) OVER (PARTITION BY pid) AS n,
             ROW_NUMBER() OVER (PARTITION BY pid
                                ORDER BY tt DESC, tid DESC) AS rn
      FROM touch
    ),
    cells AS (
      SELECT channel, n, COUNT(*) AS cnt,
             CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_cnt
      FROM ranked GROUP BY channel, n
    )
    SELECT channel,
           CAST(SUM(cnt) AS BIGINT) AS n_touches,
           CAST(SUM(last_cnt) AS BIGINT) AS last_touch_credit,
           CAST(ROUND(list_aggregate(
                 list(CAST(cnt AS DOUBLE) / n ORDER BY n), 'sum'), 9)
                AS DOUBLE) AS linear_credit
    FROM cells GROUP BY channel
    """,
)
def agg_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution — the marketing staple: every purchase
    distributes conversion credit over the touches (click/view/signup)
    in its 72 h lookback, under two models at once: LINEAR (1/n per
    touch) and LAST-TOUCH (all credit to the latest touch; ts then
    event_id tie-break keeps simultaneous touches deterministic).

    Scale shape: the purchase x touch join is per-user with a bounded
    time window (fanout = touches within 72 h, human-bounded; the
    user_id shuffle is the only wide op); per-purchase n and the
    last-touch flag ride two windows on that join's partitioning. The
    linear credit folds EXACT (channel, n)->cnt cells in ascending-n
    order — a <=|distinct n| deterministic fold per channel, not a
    touch-count-sized float reduction."""
    e = load(spark, sf_dir, "events")
    us = F.expr(_TS_US)
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), us.alias("pt")
    )
    t = e.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        "user_id",
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
        us.alias("tt"),
    )
    touch = p.join(
        t,
        (p.user_id == t.user_id)
        & (t.tt >= p.pt - _ATTR_WINDOW_H * 3_600_000_000)
        & (t.tt < p.pt),
    ).select("pid", "channel", "tt", "tid")
    w_n = Window.partitionBy("pid")
    w_rn = Window.partitionBy("pid").orderBy(
        F.col("tt").desc(), F.col("tid").desc()
    )
    ranked = touch.select(
        "pid",
        "channel",
        F.count(F.lit(1)).over(w_n).alias("n"),
        F.row_number().over(w_rn).alias("rn"),
    )
    cells = ranked.groupBy("channel", "n").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("last_cnt"),
    )
    return cells.groupBy("channel").agg(
        F.sum("cnt").alias("n_touches"),
        F.sum("last_cnt").alias("last_touch_credit"),
        round_dp(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("n"),
                            (F.col("cnt").cast("double") / F.col("n")).alias(
                                "v"
                            ),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["v"],
            ),
        ).alias("linear_credit"),
    )


_ACF_LAGS = 7  # lags 1..7, time_acf's and time_pacf's

# SQL twin of ``_acf_r``: the ``acf`` CTE (event_type, lag, n, r).
_ACF_CTE = f"""
    WITH grid AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    lags AS (SELECT unnest(range(1, {_ACF_LAGS + 1})) AS lag),
    pairs AS (
      SELECT a.event_type, l.lag, a.cents AS x, b.cents AS y
      FROM grid a CROSS JOIN lags l
      JOIN grid b ON b.event_type = a.event_type
                 AND b.day = a.day + CAST(l.lag AS INT)),
    m AS (
      SELECT event_type, lag, {moment_sums_sql(["x", "y"])}
      FROM pairs GROUP BY event_type, lag),
    acf AS (
      SELECT event_type, lag, n, ROUND({pearson_sql("x", "y")}, 9) AS r
      FROM m)"""


def _acf_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation of daily revenue per event_type:
    ``(event_type, lag, n, r)`` for k = 1..``_ACF_LAGS``, r the 9dp
    Pearson r of (cents(day), cents(day + k)) from exact int64 moments
    (0.0 for a flat series). The fact collapses to the (type, day) grid
    first; lagged pairs come from the grid crossed with the broadcast
    lag range, hash-joined back to the grid on (type, day + lag).
    Twin: ``_ACF_CTE``."""
    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    grid = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    lagtab = spark.range(1, _ACF_LAGS + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = grid.alias("a")
    b = grid.select(
        F.col("event_type").alias("bt"),
        F.col("day").alias("bday"),
        F.col("cents").alias("y"),
    )
    pairs = (
        a.crossJoin(F.broadcast(lagtab))
        .join(
            b,
            (F.col("bt") == F.col("a.event_type"))
            & (F.col("bday") == F.expr("date_add(a.day, lag)")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag",
            F.col("a.cents").alias("x"),
            "y",
        )
    )
    m = pairs.groupBy("event_type", "lag").agg(*moment_sums(["x", "y"]))
    return m.select(
        "event_type", "lag", "n", round_dp(pearson("x", "y")).alias("r")
    )


@query(
    "time_acf",
    # Autocorrelation function per event_type at lags 1..7 over the
    # daily-revenue series. The fact collapses to the (type, day) grid
    # (exact int64 cents) FIRST; lagged pairs come from a grid self-join
    # on (type, day + lag); Pearson r per (type, lag) runs entirely on
    # exact int64 moment sums (n, Sx, Sy, Sxy, Sxx, Syy) with ONE
    # double expression at the end, sqrt rounded 9dp.
    oracle=_ACF_CTE
    + """
    SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
           CAST(r AS DOUBLE) AS acf
    FROM acf
    """,
)
def time_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue per event_type at lags
    1..7 — the time-series diagnostic behind seasonality detection and
    forecast-model order selection (the ACF plot every analyst draws).

    Scale shape: one map-side-combinable hash agg collapses the fact to
    the (type, day) grid (≤|types|·|days| rows — thousands at any SF);
    every downstream op (7-row lag cross join, grid self-join on (type, day+lag),
    moment agg) runs on the grid only, so cost is agg-dominated and the
    fact shuffles exactly once. Pearson r per (type, lag) uses exact
    int64 moment sums — order-independent, no float accumulation — and
    one final double expression (sqrt rounded 9dp). Int64 headroom:
    daily-cents² · |days| must stay < 2⁶³; at larger SF rescale to whole
    currency units (same contract as win_rolling_corr)."""
    return _acf_r(spark, sf_dir).select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n"),
        F.col("r").cast("double").alias("acf"),
    )


@query(
    "time_interarrival",
    # Inter-arrival gap distribution per event_type: per-user lag gaps
    # in exact int64 micros (one window pass on the (user, type) sort),
    # then per-type count / mean / median / p90 / max. mean is one
    # double division of exact int64s; quantile_cont == Spark
    # percentile (linear interpolation) on identical int inputs.
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS gap_us
      FROM events)
    SELECT event_type,
           COUNT(gap_us) AS n_gaps,
           CAST(ROUND(SUM(gap_us) * 1.0 / COUNT(gap_us), 9) AS DOUBLE)
             AS mean_us,
           CAST(quantile_cont(gap_us, 0.5) AS DOUBLE) AS median_us,
           CAST(quantile_cont(gap_us, 0.9) AS DOUBLE) AS p90_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def time_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event_type — the queueing /
    engagement-cadence diagnostic (how often does the same user repeat
    the same action): per-user consecutive-event gaps from one window
    pass, summarized count/mean/median/p90/max per type. Gaps are exact
    int64 micros (delta-only, so the session-tz shift of the NTZ wall
    clock cancels); the mean is one double division of exact int64
    sums; percentiles interpolate identical ints in both engines.

    Scale shape: one (user_id, event_type)-partitioned window sort —
    per-partition volume is human-bounded — then a per-type agg whose
    exact percentiles sort within ≤|types| groups. At 100 TB the
    percentile sort is the wide cost; swap F.percentile for
    percentile_approx at a documented error bound if |gaps| per type
    outgrows a partition (same degrade note as agg_percentile)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    us = F.expr(_TS_US)
    g = e.select(
        "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        round_dp(F.sum("gap_us") * 1.0 / F.count("gap_us"))
        .cast("double")
        .alias("mean_us"),
        F.percentile("gap_us", F.lit(0.5)).cast("double").alias("median_us"),
        F.percentile("gap_us", F.lit(0.9)).cast("double").alias("p90_us"),
        F.max("gap_us").cast("bigint").alias("max_us"),
    )


_DECAY_HL_DAYS = 7  # half-life


@query(
    "agg_time_decay",
    # Recency-weighted revenue per user: each purchase contributes
    # cents · 2^(-age_days/7) (7-day half-life against the corpus max
    # day — a broadcast scalar). The weight is one transcendental per
    # ROW, rounded 9dp at birth; the weighted sum is FLOOR-quantized to
    # exact int64 micro-cents BEFORE summing, so the group reduction is
    # order-independent (the vec_pca_project posture). Age is exact
    # integer days.
    oracle=f"""
    WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS m FROM events),
    p AS (
      SELECT user_id,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             datediff('day', CAST(ts AS DATE), mx.m) AS age_d
      FROM events, mx WHERE event_type = 'purchase'),
    w AS (
      SELECT user_id, cents, age_d,
             CAST(FLOOR(cents * ROUND(POW(2.0, -age_d * 1.0 / {_DECAY_HL_DAYS}), 9)
                        * 1000000) AS BIGINT) AS q
      FROM p)
    SELECT user_id,
           COUNT(*) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS cents_raw,
           CAST(ROUND(SUM(q) / 1000000.0, 9) AS DOUBLE) AS cents_decayed
    FROM w GROUP BY user_id
    """,
)
def agg_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay revenue score per user (7-day half-life)
    — the recency-weighted engagement/LTV signal ranking and churn
    models consume: old purchases fade smoothly instead of falling off
    a cliff at a window edge (the group-level sibling of win_ewma's
    sequential smoother). Anchored to the corpus max day so the score
    is reproducible, not wall-clock-dependent.

    Scale shape: one broadcast scalar (max day), one map-side-
    combinable hash agg. Per-row weights are 9dp-rounded
    transcendentals of exact integer ages; each weighted contribution
    is FLOOR-quantized to exact int64 micro-cents before the sum, so
    the reduction is order-independent at any executor count — no
    ordered fold needed over an unbounded group."""
    e = load(spark, sf_dir, "events")
    mx = e.agg(F.max(F.col("ts").cast("date")).alias("m"))
    p = (
        e.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
            F.datediff(F.col("m"), F.col("ts").cast("date")).alias("age_d"),
        )
    )
    wgt = round_dp(F.pow(F.lit(2.0), -F.col("age_d") / F.lit(float(_DECAY_HL_DAYS))))
    q = F.floor(F.col("cents") * wgt * 1_000_000).cast("long")
    return (
        p.select("user_id", "cents", q.alias("q"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("cents_raw"),
            round_dp(F.sum("q") / 1_000_000.0)
            .cast("double")
            .alias("cents_decayed"),
        )
    )


_STAT_ITERS = 8  # fixed power-iteration rounds on the transition matrix


@query(
    "seq_markov_stationary",
    # Stationary distribution of the event-type Markov chain: the
    # ≤|types|² transition matrix (exact int counts, row-normalized by
    # one division) is power-iterated a FIXED 8 rounds from uniform.
    # Every matvec folds contributions in ascending prev-state order
    # (order-canonical) and rounds 9dp per entry — both engines run the
    # identical unrolled chain on the identical tiny grid.
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS curr,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events),
    t AS (
      SELECT prev, curr, COUNT(*) AS cnt FROM seq
      WHERE prev IS NOT NULL GROUP BY prev, curr),
    p AS (
      SELECT prev, curr,
             cnt * 1.0 / SUM(cnt) OVER (PARTITION BY prev) AS pr
      FROM t),
    states AS (SELECT DISTINCT curr AS s FROM t),
    n AS (SELECT COUNT(*) AS k FROM states),
    v0 AS (SELECT s, 1.0 / (SELECT k FROM n) AS v FROM states)
    {"".join(f'''
    , v{r} AS (
      SELECT p.curr AS s,
             CAST(ROUND(list_aggregate(
               list(w.v * p.pr ORDER BY p.prev), 'sum'), 9) AS DOUBLE) AS v
      FROM p JOIN v{r - 1} w ON p.prev = w.s
      GROUP BY p.curr)''' for r in range(1, _STAT_ITERS + 1))}
    SELECT s AS event_type, v AS stationary_prob FROM v{_STAT_ITERS}
    """,
)
def seq_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — 'where
    does user behavior settle': the long-run occupancy the transition
    matrix (seq_markov_chain) implies, by power iteration from uniform,
    FIXED 8 rounds per the determinism contract (converged to ~1e-9 on
    this chain; convergence is not part of the oracle, the arithmetic
    chain is).

    Scale shape: the fact collapses to the ≤|types|² transition grid in
    one window+agg pass (the seq_markov_chain shape); every iteration
    is a join+fold on that ≤25-row grid — driver-side cost zero, data
    cost one fact pass regardless of iteration count. The folds are
    ascending-prev order-canonical, 9dp per round, so the fixpoint is
    bit-identical at any parallelism."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            F.lag("event_type").over(w).alias("prev"),
            F.col("event_type").alias("curr"),
        )
        .where(F.col("prev").isNotNull())
        .groupBy("prev", "curr")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    p = t.select(
        "prev",
        "curr",
        (F.col("cnt") / F.sum("cnt").over(Window.partitionBy("prev"))).alias(
            "pr"
        ),
    ).localCheckpoint()
    states = p.select(F.col("curr").alias("s")).distinct()
    k = states.count()
    v = states.select("s", F.lit(1.0 / k).alias("v"))
    for _ in range(_STAT_ITERS):
        v = (
            p.join(v.withColumnRenamed("s", "prev"), "prev")
            .groupBy(F.col("curr").alias("s"))
            .agg(
                round_dp(
                    F.aggregate(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("prev"),
                                    (F.col("v") * F.col("pr")).alias("x"),
                                )
                            )
                        ),
                        F.lit(0.0),
                        lambda acc, s: acc + s["x"],
                    ),
                ).alias("v")
            )
        )
    return v.select(
        F.col("s").alias("event_type"),
        F.col("v").cast("double").alias("stationary_prob"),
    )


_MK_ROUNDS = 12  # absorbing-chain iteration depth (fixed)
_MK_CHANNELS = ("click", "view", "signup", "error")


def _mk_attr_oracle() -> str:
    """Transitions + unrolled absorbing-chain iterations per removal
    variant ('full' plus one per channel). p_k(v, s) = P(absorb in conv
    within k steps from s under variant v)."""
    base = f"""
    WITH fp AS MATERIALIZED (
      SELECT user_id, MIN(epoch_us(ts)) AS pus
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    j AS MATERIALIZED (
      SELECT e.user_id,
             CASE WHEN e.event_type = 'purchase' THEN 'conv'
                  ELSE e.event_type END AS state,
             epoch_us(ts) AS us, e.event_id
      FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
      WHERE fp.pus IS NULL OR epoch_us(ts) <= fp.pus),
    seq AS MATERIALIZED (
      SELECT user_id, state,
             COALESCE(LAG(state) OVER w, 'start') AS prev,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY us DESC, event_id DESC) AS rdesc
      FROM j WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    trans AS MATERIALIZED (
      SELECT prev, state AS nxt, COUNT(*) AS cnt FROM seq
      GROUP BY prev, nxt
      UNION ALL
      SELECT state, 'null', COUNT(*) FROM seq
      WHERE rdesc = 1 AND state != 'conv' GROUP BY state),
    t AS MATERIALIZED (
      SELECT prev, nxt,
             SUM(cnt) * 1.0 / SUM(SUM(cnt)) OVER (PARTITION BY prev) AS pr
      FROM trans GROUP BY prev, nxt),
    variants(v) AS (VALUES ('full'), {", ".join(f"('{c}')" for c in _MK_CHANNELS)}),
    tv AS MATERIALIZED (
      -- pre-aggregate: remapping a removed channel to 'null' can leave
      -- two rows per (v, prev, nxt='null'); SUM merges them (a 2-term
      -- float add is order-free) so the matvec fold key is unique and
      -- tie order can never differ across engines
      SELECT v, prev, nxt, SUM(pr) AS pr FROM (
        SELECT v.v, t.prev,
               CASE WHEN t.nxt = v.v THEN 'null' ELSE t.nxt END AS nxt,
               t.pr
        FROM t CROSS JOIN variants v WHERE t.prev != v.v)
      GROUP BY v, prev, nxt),
    states AS MATERIALIZED (
      SELECT DISTINCT v, s FROM (
        SELECT v, prev AS s FROM tv UNION ALL SELECT v, nxt FROM tv)),
    p0 AS MATERIALIZED (
      SELECT v, s, CASE WHEN s = 'conv' THEN 1.0 ELSE 0.0 END AS p
      FROM states)"""
    for k in range(1, _MK_ROUNDS + 1):
        base += f""",
    p{k} AS MATERIALIZED (
      SELECT s.v, s.s,
             CASE WHEN s.s = 'conv' THEN 1.0
                  ELSE COALESCE(ROUND((
                    SELECT list_aggregate(list(tv.pr * pp.p ORDER BY tv.nxt),
                                          'sum')
                    FROM tv JOIN p{k - 1} pp
                      ON pp.v = tv.v AND pp.s = tv.nxt
                    WHERE tv.v = s.v AND tv.prev = s.s), 9), 0.0)
             END AS p
      FROM states s)"""
    return base + f"""
    , conv AS (
      SELECT v, p FROM p{_MK_ROUNDS} WHERE s = 'start'),
    eff AS (
      SELECT c.v AS channel,
             CAST(ROUND(1.0 - c.p / f.p, 9) AS DOUBLE) AS removal_effect
      FROM conv c CROSS JOIN (SELECT p FROM conv WHERE v = 'full') f
      WHERE c.v != 'full')
    SELECT channel, removal_effect,
           CAST(ROUND(removal_effect /
                (SELECT list_aggregate(list(removal_effect ORDER BY channel),
                                       'sum') FROM eff), 9) AS DOUBLE)
             AS attributed_share
    FROM eff
    """


_MK_GRID_CAP = 512  # max collected variant-grid rows for the driver solve


def _mk_solve_driver(spark: SparkSession, grid: list) -> DataFrame:
    """Absorbing-chain removal-effect solve on the collected variant
    grid — the driver-side twin of the distributed loop in
    seq_attribution_markov, with identical IEEE-double arithmetic: the
    matvec folds pr·p in ascending-nxt order from 0.0 and rounds 9dp
    per entry (`py_round_dp`), exactly like
    round_dp(F.aggregate(array_sort(...)))."""
    trans: dict[tuple[str, str], list[tuple[str, float]]] = {}
    states: set[tuple[str, str]] = set()
    for r in grid:
        trans.setdefault((r["v"], r["prev"]), []).append((r["nxt"], r["pr"]))
        states.add((r["v"], r["prev"]))
        states.add((r["v"], r["nxt"]))
    for lst in trans.values():
        lst.sort()
    p = {(v, s): (1.0 if s == "conv" else 0.0) for (v, s) in states}
    for _ in range(_MK_ROUNDS):
        new_p = {}
        for (v, s) in states:
            if s == "conv":
                new_p[(v, s)] = 1.0
                continue
            lst = trans.get((v, s))
            if lst is None:
                new_p[(v, s)] = 0.0
                continue
            acc = 0.0
            for nxt, pr in lst:
                acc = acc + pr * p[(v, nxt)]
            new_p[(v, s)] = py_round_dp(acc)
        p = new_p
    schema = "channel string, removal_effect double, attributed_share double"
    if ("full", "start") not in p:
        return spark.createDataFrame([], schema)
    pf = p[("full", "start")]
    eff = {
        v: py_round_dp(1.0 - p[(v, "start")] / pf)
        for (v, s) in states
        if s == "start" and v != "full"
    }
    tot = 0.0
    for ch in sorted(eff):
        tot = tot + eff[ch]
    rows = [(ch, re, py_round_dp(re / tot)) for ch, re in sorted(eff.items())]
    return spark.createDataFrame(rows, schema)


@query("seq_attribution_markov", oracle=_mk_attr_oracle())
def seq_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. — THE
    data-driven attribution model): build the journey chain start →
    touches → conv/null (journeys truncate at the first purchase;
    non-converting journeys absorb in 'null'), compute conversion
    probability from 'start' by absorbing-chain iteration, then for
    each channel REMOVE it (its inbound transition mass routes to
    'null') and re-solve; removal effect = 1 − P_without/P_full,
    normalized into attributed shares. Complements agg_attribution's
    rule-based linear/last-touch with the model-based answer.

    Determinism: a FIXED {_MK_ROUNDS} absorbing iterations (the chain
    mixes in far fewer on ≤7 states); every matvec folds in
    ascending-next-state order and rounds 9dp per entry; transition
    probabilities are single divisions of exact int64 counts.

    Scale shape: the fact collapses to the ≤7×7 transition grid in ONE
    window+agg pass (first-purchase window shares the user_id
    shuffle); all 5 variants × {_MK_ROUNDS} iterations run on the
    ≤5·7-row checkpointed variant grid — iteration cost is independent
    of corpus size."""
    e = load(spark, sf_dir, "events")
    us = F.expr(_TS_US)
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(us).alias("pus"))
    )
    j = (
        e.join(F.broadcast(fp), "user_id", "left")
        .filter(F.col("pus").isNull() | (us <= F.col("pus")))
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", "conv")
            .otherwise(F.col("event_type"))
            .alias("state"),
            us.alias("us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    w_desc = Window.partitionBy("user_id").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    seq = j.select(
        "state",
        F.coalesce(F.lag("state").over(w), F.lit("start")).alias("prev"),
        F.row_number().over(w_desc).alias("rdesc"),
    )
    trans = (
        seq.groupBy("prev", F.col("state").alias("nxt"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .unionByName(
            seq.filter((F.col("rdesc") == 1) & (F.col("state") != "conv"))
            .groupBy(F.col("state").alias("prev"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select("prev", F.lit("null").alias("nxt"), "cnt")
        )
    )
    t = (
        trans.groupBy("prev", "nxt")
        .agg(F.sum("cnt").alias("cnt"))
        .select(
            "prev",
            "nxt",
            (
                F.col("cnt")
                / F.sum("cnt").over(Window.partitionBy("prev"))
            ).alias("pr"),
        )
    )
    variants = spark.createDataFrame(
        [("full",)] + [(c,) for c in _MK_CHANNELS], "v string"
    )
    tv = (
        t.crossJoin(F.broadcast(variants))
        .filter(F.col("prev") != F.col("v"))
        .select(
            "v",
            "prev",
            F.when(F.col("nxt") == F.col("v"), "null")
            .otherwise(F.col("nxt"))
            .alias("nxt"),
            "pr",
        )
        # pre-aggregate: the removed-channel remap can produce two rows
        # per (v, prev, 'null'); SUM merges them (2-term float add is
        # order-free), making the fold key unique so cross-engine tie
        # order cannot diverge (ADVICE r5)
        .groupBy("v", "prev", "nxt")
        .agg(F.sum("pr").alias("pr"))
        .localCheckpoint()
    )
    # The variant grid is ≤ |variants|·|states|² rows (≤ ~320 on any
    # event log with these 7 states) and the absorbing iterations are
    # corpus-independent — so solve the chain DRIVER-SIDE when the grid
    # is provably tiny (guarded count, same pattern as the ≤63-token
    # vocab probe in text.py), replicating Spark's float semantics
    # exactly: ascending-nxt left fold, round_dp (py_round_dp) at 9dp
    # per entry. One collect replaces 5×12 tiny Spark
    # jobs (~6.7 s → ~1.5 s at sf0.1); answers are bit-identical. An
    # adversarial log with an unbounded state domain takes the
    # distributed loop below instead.
    if tv.count() <= _MK_GRID_CAP:
        return _mk_solve_driver(spark, tv.collect())
    states = (
        tv.select("v", F.col("prev").alias("s"))
        .unionByName(tv.select("v", F.col("nxt").alias("s")))
        .distinct()
        .localCheckpoint()
    )
    p = states.select(
        "v", "s", F.when(F.col("s") == "conv", 1.0).otherwise(0.0).alias("p")
    )
    for _ in range(_MK_ROUNDS):
        stepped = (
            tv.join(
                p.select(
                    F.col("v").alias("pv"),
                    F.col("s").alias("nxt_s"),
                    F.col("p").alias("pp"),
                ),
                (F.col("v") == F.col("pv")) & (F.col("nxt") == F.col("nxt_s")),
            )
            .groupBy("v", F.col("prev").alias("s"))
            .agg(
                round_dp(
                    F.aggregate(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("nxt"),
                                    (F.col("pr") * F.col("pp")).alias("x"),
                                )
                            )
                        ),
                        F.lit(0.0),
                        lambda acc, z: acc + z["x"],
                    ),
                ).alias("p")
            )
        )
        p = states.join(stepped, ["v", "s"], "left").select(
            "v",
            "s",
            F.when(F.col("s") == "conv", 1.0)
            .otherwise(F.coalesce(F.col("p"), F.lit(0.0)))
            .alias("p"),
        )
    conv = p.filter(F.col("s") == "start").select("v", "p")
    full = conv.filter(F.col("v") == "full").select(
        F.col("p").alias("pf")
    )
    eff = (
        conv.filter(F.col("v") != "full")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("v").alias("channel"),
            round_dp(1.0 - F.col("p") / F.col("pf")).alias(
                "removal_effect"
            ),
        )
    )
    tot = eff.groupBy().agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct("channel", F.col("removal_effect").alias("x"))
                )
            ),
            F.lit(0.0),
            lambda acc, z: acc + z["x"],
        ).alias("tot")
    )
    return eff.crossJoin(F.broadcast(tot)).select(
        "channel",
        F.col("removal_effect").cast("double").alias("removal_effect"),
        round_dp(F.col("removal_effect") / F.col("tot"))
        .cast("double")
        .alias("attributed_share"),
    )


@query(
    "seq_pair_support",
    # Length-2 sequential pattern mining (the PrefixSpan/SPADE unit
    # step): support of "event type a, later type b" across users,
    # using first-occurrence semantics — user supports a->b iff their
    # earliest a strictly precedes their earliest b. The corpus
    # collapses to one (user x type) first-seen grid (<= |users|*|types|
    # rows); patterns come from the grid's per-user type pairs.
    # Confidence = support(a->b)/support(a), one exact division, 9dp.
    oracle="""
    WITH firsts AS (
      SELECT user_id, event_type,
             MIN(struct_pack(ts := ts, event_id := event_id))['ts']
               AS first_ts,
             MIN(struct_pack(ts := ts, event_id := event_id))['event_id']
               AS tie_id
      FROM events GROUP BY user_id, event_type),
    users AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM firsts),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS support_n
      FROM firsts a JOIN firsts b ON a.user_id = b.user_id
       AND (a.first_ts < b.first_ts
            OR (a.first_ts = b.first_ts AND a.tie_id < b.tie_id))
      GROUP BY a.event_type, b.event_type),
    base AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS base_n
      FROM firsts GROUP BY event_type)
    SELECT p.type_a, p.type_b, p.support_n,
           CAST(ROUND(p.support_n * 1.0 / u.n_users, 9) AS DOUBLE)
             AS support,
           CAST(ROUND(p.support_n * 1.0 / ba.base_n, 9) AS DOUBLE)
             AS confidence
    FROM pairs p JOIN base ba ON p.type_a = ba.event_type
    CROSS JOIN users u
    """,
)
def seq_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern support — the length-2 unit step of
    PrefixSpan/SPADE sequence mining ('users who do a LATER do b'),
    with first-occurrence semantics and a deterministic event_id
    tiebreak for simultaneous firsts: the sibling of graph_assoc_rules
    (co-occurrence, unordered) that adds ORDER. Confidence divides by
    the antecedent's user count; support by the total user universe.

    Scale shape: ONE hash agg collapses the event stream to the
    (user × type) first-seen grid — ≤ |users|·|types| rows, map-side
    combinable; the pattern join is a self-equi-join ON user_id with
    per-user fan-out bounded by |types|² (≤49 here), never by event
    volume; the antecedent-base join is broadcast-sized (|types| rows).
    At 10⁹ events the plan is identical: the grid is the only shuffle
    that scales with data, and it scales with USERS, not events."""
    return _pair_support(load(spark, sf_dir, "events"))


def _pair_support(e: DataFrame) -> DataFrame:
    """Core of seq_pair_support over any events-shaped frame
    (user_id, event_type, ts, event_id) — split out so adversarial
    tests can feed synthetic frames (simultaneous firsts, reversed
    event-id order) that the generated data never produces."""
    # the first-seen grid feeds FOUR consumers (both self-join sides,
    # the antecedent base, the user universe) — localCheckpoint pins it
    # so the fact is scanned once; it is |users|*|types| rows, cheap
    # struct-min (lexicographic in BOTH engines) pins tie_id to the
    # event_id OF the first-occurring event — MIN(ts) + MIN(event_id)
    # separately would pair the earliest time with some OTHER event's
    # id and flip the simultaneous-firsts tiebreak
    first = F.min(F.struct("ts", "event_id"))
    firsts = (
        e.groupBy("user_id", "event_type")
        .agg(
            first.getField("ts").alias("first_ts"),
            first.getField("event_id").alias("tie_id"),
        )
        .localCheckpoint()
    )
    n_users = firsts.select(
        F.count_distinct("user_id").alias("n_users")
    )
    a = firsts.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("first_ts").alias("ts_a"),
        F.col("tie_id").alias("id_a"),
    )
    b = firsts.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("first_ts").alias("ts_b"),
        F.col("tie_id").alias("id_b"),
    )
    pairs = (
        a.join(b, "user_id")
        .filter(
            (F.col("ts_a") < F.col("ts_b"))
            | ((F.col("ts_a") == F.col("ts_b")) & (F.col("id_a") < F.col("id_b")))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support_n"))
    )
    base = firsts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("base_n")
    )
    return (
        pairs.join(
            F.broadcast(base.withColumnRenamed("event_type", "type_a")),
            "type_a",
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "support_n",
            round_dp(F.col("support_n") / F.col("n_users"))
            .cast("double")
            .alias("support"),
            round_dp(F.col("support_n") / F.col("base_n"))
            .cast("double")
            .alias("confidence"),
        )
    )


@query(
    "time_decompose_classical",
    # Classical additive seasonal decomposition (the moving-average
    # method STL replaced, still the standard first look): per
    # event_type daily revenue, trend = centered 7-day moving average
    # over a RANGE frame on the integer day number (gap-proof: partial
    # windows yield NULL trend, only full 7-day neighborhoods emit),
    # seasonal = per-weekday mean of the detrended series re-centered
    # to sum ~0, residual = the rest. Weekday = day-number % 7 (pure
    # integer, engine-independent — dayofweek() conventions differ).
    # Every float is nano-quantized at birth (round(x*1e9) exact int64
    # in both engines), so the per-weekday means are order-independent.
    oracle="""
    WITH grid AS (
      SELECT event_type,
             CAST(ts AS DATE) AS day,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2, 3),
    tr AS (
      SELECT event_type, day, d, cents,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN ROUND(SUM(cents) OVER w / 700.0, 9) END AS trend
      FROM grid
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    fr AS (
      SELECT event_type, day, d % 7 AS wd, cents, trend,
             CAST(ROUND((cents / 100.0 - trend) * 1e9, 0) AS BIGINT)
               AS detr_nano
      FROM tr WHERE trend IS NOT NULL),
    cells AS (
      SELECT event_type, wd,
             ROUND(SUM(detr_nano) * 1.0 / (1e9 * COUNT(*)), 9) AS seas_raw
      FROM fr GROUP BY event_type, wd),
    norm AS (
      SELECT event_type, wd,
             ROUND(seas_raw -
               ROUND(SUM(CAST(ROUND(seas_raw * 1e9, 0) AS BIGINT))
                       OVER (PARTITION BY event_type)
                     / (1e9 * COUNT(*) OVER (PARTITION BY event_type)), 9),
               9) AS seasonal
      FROM cells)
    SELECT f.event_type, CAST(f.day AS VARCHAR) AS day,
           CAST(ROUND(f.cents / 100.0, 9) AS DOUBLE) AS value,
           CAST(f.trend AS DOUBLE) AS trend,
           CAST(n.seasonal AS DOUBLE) AS seasonal,
           CAST(ROUND(f.detr_nano / 1e9 - n.seasonal, 9) AS DOUBLE)
             AS residual
    FROM fr f JOIN norm n
      ON f.event_type = n.event_type AND f.wd = n.wd
    """,
)
def time_decompose_classical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily revenue series per
    event_type — trend (centered 7-day moving average), weekly
    seasonality (per-weekday mean deviation, re-centered), residual —
    the moving-average method every forecasting text starts with and
    the diagnostic STL refines; fills the gap between
    time_seasonal_index (hour-of-day index only) and win_holt_forecast
    (forecast only, no decomposition). The trend window is a RANGE
    frame over the integer day number, so calendar GAPS yield NULL
    trend instead of silently averaging non-adjacent days; weekday is
    day-number % 7 (engine-independent pure integers — dayofweek()
    conventions differ across engines).

    Scale shape: ONE map-side-combinable fact agg to the (type, day)
    grid, pinned via localCheckpoint (feeds the trend window, the
    weekday cells, and the final join); everything downstream is
    grid-bound (≤|types|·|days| rows), the weekday table is ≤|types|·7
    and broadcasts back. Per-weekday means sum nano-quantized int64 —
    order-independent under any partitioning."""
    e = load(spark, sf_dir, "events")
    grid = (
        e.groupBy(
            "event_type",
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.expr("CAST(round(value*100,0) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
        .withColumn(
            "d", F.datediff(F.col("day"), F.to_date(F.lit("1970-01-01")))
            .cast("bigint")
        )
        .localCheckpoint()
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rangeBetween(-3, 3)
    )
    tr = grid.select(
        "event_type",
        "day",
        "d",
        "cents",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            round_dp(F.sum("cents").over(w) / 700.0),
        ).alias("trend"),
    )
    fr = tr.filter(F.col("trend").isNotNull()).select(
        "event_type",
        "day",
        (F.col("d") % 7).alias("wd"),
        "cents",
        "trend",
        F.round((F.col("cents") / 100.0 - F.col("trend")) * 1e9, 0)
        .cast("bigint")
        .alias("detr_nano"),
    )
    cells = fr.groupBy("event_type", "wd").agg(
        round_dp(
            F.sum("detr_nano") / (F.lit(1e9) * F.count(F.lit(1)))
        ).alias("seas_raw")
    )
    w_type = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    norm = cells.select(
        "event_type",
        "wd",
        round_dp(
            F.col("seas_raw")
            - round_dp(
                F.sum(
                    F.round(F.col("seas_raw") * 1e9, 0).cast("bigint")
                ).over(w_type)
                / (F.lit(1e9) * F.count(F.lit(1)).over(w_type)),
            ),
        ).alias("seasonal"),
    )
    return fr.join(F.broadcast(norm), ["event_type", "wd"]).select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        round_dp(F.col("cents") / 100.0).cast("double").alias("value"),
        F.col("trend").cast("double").alias("trend"),
        F.col("seasonal").cast("double").alias("seasonal"),
        round_dp(F.col("detr_nano") / F.lit(1e9) - F.col("seasonal"))
        .cast("double")
        .alias("residual"),
    )


# Croston smoothing constant — dyadic so each update multiply is an
# exact binary scale; the fold is sequential in both engines, so the
# IEEE rounding sequence is identical (the win_holt_winters argument).
_CROSTON_ALPHA = 0.25


@query(
    "time_croston",
    # Croston's intermittent-demand forecast per event_type over DEMAND
    # DAYS (days with purchase revenue): classic init z = d1 (the FIRST
    # demand size), p = q2 (the first interval); from the 2nd demand
    # day z' = z + a(d-z), p' = p + a(q-p);
    # forecast = z/p. The oracle steps the identical recursion with a
    # recursive CTE carrying the 2-column state; Spark runs it as one
    # in-row aggregate() fold over the type's (demand, gap) array.
    oracle=f"""
    WITH RECURSIVE dd AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS d
      FROM events WHERE event_type = 'purchase' OR event_type = 'view'
      GROUP BY 1, 2 HAVING SUM(CAST(round(value*100,0) AS BIGINT)) > 0),
    seqd0 AS (
      SELECT event_type, day, CAST(d AS DOUBLE) AS d,
             CAST(day - LAG(day) OVER (PARTITION BY event_type
                                       ORDER BY day) AS DOUBLE) AS q,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dd),
    seqd AS (
      SELECT *,
             MAX(CASE WHEN i = 2 THEN q END)
               OVER (PARTITION BY event_type) AS q2
      FROM seqd0),
    cr AS (
      SELECT event_type, i, n, d AS z, q2 AS p
      FROM seqd WHERE i = 1
      UNION ALL
      SELECT cr.event_type, s.i, cr.n,
             cr.z + {_CROSTON_ALPHA} * (s.d - cr.z),
             cr.p + {_CROSTON_ALPHA} * (s.q - cr.p)
      FROM cr JOIN seqd s
        ON s.event_type = cr.event_type AND s.i = cr.i + 1)
    SELECT event_type, CAST(n AS BIGINT) AS n_demand_days,
           CAST(ROUND(z / 100.0, 9) AS DOUBLE) AS smoothed_demand,
           CAST(ROUND(p, 9) AS DOUBLE) AS smoothed_interval,
           CAST(ROUND(z / (100.0 * p), 9) AS DOUBLE) AS forecast_per_day
    FROM cr WHERE i = n AND n >= 2
    """,
)
def time_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method — THE intermittent-demand forecaster (spare
    parts, long-tail SKUs, sparse ad conversions): naive exponential
    smoothing biases toward zero on sparse series, so Croston smooths
    demand SIZE and demand INTERVAL separately, updating only on
    demand occurrences; forecast per day = z/p. Here per event_type
    over days with positive revenue (init z = first demand, p = first
    gap; the wait-for-two-points classic init).

    Scale shape: one (type, day) hash agg, one lag window for gaps,
    then the entire recursion is ONE in-row aggregate() fold over the
    type's time-sorted (demand, gap) array — no iteration driver, no
    per-step shuffle; state is 2 numbers. Cross-engine equality is
    order equality: the oracle's recursive CTE executes the identical
    arithmetic sequence (dyadic alpha; sequential IEEE rounding is
    deterministic). Day grids are bounded in-row state (the
    win_holt_winters argument)."""
    e = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") | (F.col("event_type") == "view")
    )
    cents = F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")
    dd = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents).cast("bigint").alias("d"))
        .filter(F.col("d") > 0)
    )
    wlag = Window.partitionBy("event_type").orderBy("day")
    seqd = dd.select(
        "event_type",
        "day",
        F.col("d").cast("double").alias("d"),
        F.datediff(F.col("day"), F.lag("day").over(wlag))
        .cast("double")
        .alias("q"),
    )
    arr = seqd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_demand_days"),
        F.expr(
            "transform(sort_array(collect_list(struct(day, d, q))), "
            "x -> struct(x.d AS d, x.q AS q))"
        ).alias("dq"),
    ).filter(F.col("n_demand_days") >= 2)
    a = _CROSTON_ALPHA
    # init z = d1 (FIRST demand, the classic Croston base), p = q2 (the
    # first observed interval); updates run from the 2nd demand day —
    # the i=2 p-update p + a*(q2 - p) with p = q2 is an exact no-op
    # (a*0 == 0 in IEEE), matching the oracle's recursion step for step.
    fold = f"""
    aggregate(
      slice(dq, 2, size(dq) - 1),
      struct(dq[0].d AS z, dq[1].q AS p),
      (acc, x) -> struct(acc.z + {a} * (x.d - acc.z) AS z,
                         acc.p + {a} * (x.q - acc.p) AS p)
    )
    """
    st = arr.select("event_type", "n_demand_days", F.expr(fold).alias("st"))
    return st.select(
        "event_type",
        "n_demand_days",
        round_dp(F.col("st.z") / 100.0)
        .cast("double")
        .alias("smoothed_demand"),
        round_dp(F.col("st.p")).cast("double").alias("smoothed_interval"),
        round_dp(F.col("st.z") / (100.0 * F.col("st.p")))
        .cast("double")
        .alias("forecast_per_day"),
    )


_SMA_SHORT, _SMA_LONG = 7, 28


@query(
    "time_sma_crossover",
    # Golden/death-cross detection per event_type: 7- vs 28-day moving
    # averages of daily revenue compared WITHOUT division — the sign of
    # s7*28 - s28*7 is an exact int64 cross-product, so crossing
    # detection (sign != previous sign) is pure integer logic; the
    # reported MAs are the only divisions, 9dp. Emitted only on full
    # 28-day frames and actual sign flips through/across zero.
    oracle=f"""
    WITH grid AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    fr AS (
      SELECT event_type, day,
             COUNT(*) OVER wl AS nl,
             SUM(x) OVER ws AS ss,
             SUM(x) OVER wl AS sl
      FROM grid
      WINDOW ws AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {_SMA_SHORT - 1} PRECEDING AND CURRENT ROW),
             wl AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {_SMA_LONG - 1} PRECEDING AND CURRENT ROW)),
    sg AS (
      SELECT event_type, day, ss, sl,
             CASE WHEN ss * {_SMA_LONG} > sl * {_SMA_SHORT} THEN 1
                  WHEN ss * {_SMA_LONG} < sl * {_SMA_SHORT} THEN -1
                  ELSE 0 END AS sgn
      FROM fr WHERE nl = {_SMA_LONG}),
    fl AS (
      SELECT event_type, day, ss, sl, sgn,
             LAG(sgn) OVER (PARTITION BY event_type ORDER BY day) AS prev
      FROM sg)
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CASE WHEN sgn = 1 THEN 'golden' ELSE 'death' END AS cross_type,
           CAST(ROUND(ss / ({_SMA_SHORT} * 100.0), 9) AS DOUBLE) AS short_ma,
           CAST(ROUND(sl / ({_SMA_LONG} * 100.0), 9) AS DOUBLE) AS long_ma
    FROM fl
    WHERE prev IS NOT NULL AND sgn != 0 AND prev != sgn
    """,
)
def time_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-cross / death-cross signal detection per event_type (the
    7/28-day moving-average crossover screen — the signal layer on top
    of win_bollinger/win_rsi's indicator layer): a cross fires when the
    short MA moves to the other side of the long MA. The comparison is
    the SIGN of the exact int64 cross-product s7*28 - s28*7 — no MA is
    ever divided before the decision, so detection is bit-exact in both
    engines; equal-MA days (sign 0) fire nothing, and the flip test
    rides one lag window.

    Scale shape: one hash agg to the (type, day) grid, two frames +
    one lag sharing a single per-type day sort — the win_rsi topology
    with two frame lengths. Output is |crossings|, data-bounded and
    tiny."""
    e = load(spark, sf_dir, "events")
    cents = F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")
    grid = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents).cast("bigint").alias("x"))
    wbase = Window.partitionBy("event_type").orderBy("day")
    ws = wbase.rowsBetween(-(_SMA_SHORT - 1), Window.currentRow)
    wl = wbase.rowsBetween(-(_SMA_LONG - 1), Window.currentRow)
    fr = grid.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(wl).alias("nl"),
        F.sum("x").over(ws).alias("ss"),
        F.sum("x").over(wl).alias("sl"),
    ).filter(F.col("nl") == _SMA_LONG)
    diff = F.col("ss") * _SMA_LONG - F.col("sl") * _SMA_SHORT
    sg = fr.select(
        "event_type",
        "day",
        "ss",
        "sl",
        F.when(diff > 0, 1).when(diff < 0, -1).otherwise(0).alias("sgn"),
    )
    fl = sg.withColumn("prev", F.lag("sgn").over(wbase))
    return fl.filter(
        F.col("prev").isNotNull()
        & (F.col("sgn") != 0)
        & (F.col("prev") != F.col("sgn"))
    ).select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.when(F.col("sgn") == 1, "golden").otherwise("death").alias(
            "cross_type"
        ),
        round_dp(F.col("ss") / (_SMA_SHORT * 100.0))
        .cast("double")
        .alias("short_ma"),
        round_dp(F.col("sl") / (_SMA_LONG * 100.0))
        .cast("double")
        .alias("long_ma"),
    )


# 12*w(|S|) for |S| = 0..3 with n = 4 channels: w = |S|!(n-1-|S|)!/n!
# = [1/4, 1/12, 1/12, 1/4] — scaled by 12 they are EXACT integers, so
# the whole Shapley numerator stays int64.
_SHAP_W12 = (3, 1, 1, 3)


@query(
    "seq_attribution_shapley",
    # Shapley-value attribution (Zhao et al.) over the 4 touch
    # channels: v(S) = (converters whose touch set is a subset of S)/N;
    # phi_i = sum over coalitions S not containing i of
    # w(|S|)*(v(S+i) - v(S)). With 12w integral, the numerator is an
    # EXACT int64 subset-sum expression; the only floats are the two
    # final divisions (phi, share), 9dp. All coalition work runs on the
    # 16-row mask grid — corpus-size-independent.
    oracle=f"""
    WITH fp AS MATERIALIZED (
      SELECT user_id, MIN(epoch_us(ts)) AS pus
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    j AS MATERIALIZED (
      SELECT e.user_id, e.event_type, fp.pus IS NOT NULL AS conv
      FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
      WHERE fp.pus IS NULL OR epoch_us(ts) <= fp.pus),
    um AS (
      SELECT user_id, BOOL_OR(conv) AS conv,
             COALESCE(BIT_OR(CASE event_type
               WHEN 'click' THEN 1 WHEN 'error' THEN 2
               WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END), 0) AS mask
      FROM j GROUP BY user_id),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM um),
    cm AS (
      SELECT mask, CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
               AS convs
      FROM um GROUP BY mask),
    coal AS (
      SELECT s.k AS s, CAST(COALESCE(SUM(cm.convs), 0) AS BIGINT) AS cs
      FROM (SELECT unnest(range(0, 16)) AS k) s
      LEFT JOIN cm ON (cm.mask & s.k) = cm.mask
      GROUP BY s.k),
    terms AS (
      SELECT ch.i AS ci,
             SUM((CASE bit_count(c0.s)
                  {" ".join(f"WHEN {i} THEN {w}" for i, w in enumerate(_SHAP_W12))}
                  ELSE 0 END)
                 * (c1.cs - c0.cs)) AS num
      FROM (SELECT unnest(range(0, 4)) AS i) ch
      JOIN coal c0 ON ((c0.s >> ch.i) & 1) = 0
      JOIN coal c1 ON c1.s = (c0.s | (1 << ch.i))
      GROUP BY ch.i),
    tot AS (SELECT SUM(num) AS total FROM terms)
    SELECT CASE terms.ci WHEN 0 THEN 'click' WHEN 1 THEN 'error'
           WHEN 2 THEN 'signup' ELSE 'view' END AS channel,
           CAST(terms.num AS BIGINT) AS shapley_num,
           CAST(ROUND(terms.num / (12.0 * nn.n), 9) AS DOUBLE) AS shapley_value,
           CAST(CASE WHEN tot.total = 0 THEN 0.25
                ELSE ROUND(terms.num * 1.0 / tot.total, 9) END AS DOUBLE)
             AS share
    FROM terms CROSS JOIN nn CROSS JOIN tot
    """,
)
def seq_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value multi-touch attribution — the game-theoretic
    model beside seq_attribution_markov's removal effects and
    agg_attribution's rule-based splits (the three standard answers to
    'which channel gets conversion credit'): channels are players,
    v(S) = converting users whose pre-conversion touch set fits inside
    S, and each channel receives its exact Shapley value. With 4
    channels the coalition lattice is 16 masks, so 12*w(|S|) is an
    exact integer weight and the whole numerator is int64 — the only
    floats are the final two divisions (9dp).

    Scale shape: journeys truncate at first purchase (shared
    convention with the Markov model, ONE user_id shuffle), users
    collapse to a bitmask via BIT_OR in the same agg, conversions
    collapse to the <=16-row mask grid — every coalition subset-sum
    and pairwise marginal runs on that grid via bounded bitwise
    equi-joins; nothing after the first agg scales with the corpus.
    More channels grow the lattice 2^k — past ~20 channels production
    samples coalitions (documented), the grid topology unchanged."""
    e = load(spark, sf_dir, "events")
    us = F.expr(_TS_US)
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(us).alias("pus"))
    )
    j = (
        e.join(F.broadcast(fp), "user_id", "left")
        .filter(F.col("pus").isNull() | (us <= F.col("pus")))
        .select(
            "user_id",
            "event_type",
            F.col("pus").isNotNull().alias("conv"),
        )
    )
    um = j.groupBy("user_id").agg(
        F.expr("bool_or(conv)").alias("conv"),
        F.coalesce(F.expr(
            "bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
            "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END)"
        ), F.lit(0)).alias("mask"),
    ).localCheckpoint()  # the lattice references this 4x (cm/nn via
    # coal twice + totals); without pinning, every reference re-runs
    # the whole corpus chain (plan-gate finding, late r8)
    nn = um.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cm = um.groupBy("mask").agg(
        F.sum(F.when(F.col("conv"), 1).otherwise(0))
        .cast("bigint")
        .alias("convs")
    )
    s16 = spark.range(16).select(F.col("id").cast("int").alias("s"))
    coal = (
        s16.join(
            F.broadcast(cm),
            (F.col("mask").bitwiseAND(F.col("s"))) == F.col("mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("convs"), F.lit(0)).cast("bigint").alias("cs"))
    )
    ch = spark.range(4).select(F.col("id").cast("int").alias("ci"))
    w12 = F.lit(0)
    for i, wgt in enumerate(_SHAP_W12):
        w12 = F.when(F.expr("bit_count(c0.s)") == i, wgt).otherwise(w12)
    terms = (
        ch.join(
            F.broadcast(coal.alias("c0")),
            F.expr("((c0.s >> ci) & 1) = 0"),
        )
        .join(
            F.broadcast(coal.alias("c1")),
            F.expr("c1.s = (c0.s | (1 << ci))"),
        )
        .groupBy("ci")
        .agg(
            F.sum(w12 * (F.col("c1.cs") - F.col("c0.cs")))
            .cast("bigint")
            .alias("num")
        )
    )
    tot = terms.agg(F.sum("num").cast("bigint").alias("total"))
    name = (
        F.when(F.col("ci") == 0, "click")
        .when(F.col("ci") == 1, "error")
        .when(F.col("ci") == 2, "signup")
        .otherwise("view")
    )
    return (
        terms.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tot))
        .select(
            name.alias("channel"),
            F.col("num").alias("shapley_num"),
            round_dp(F.col("num") / (12.0 * F.col("n")))
            .cast("double")
            .alias("shapley_value"),
            F.when(F.col("total") == 0, F.lit(0.25))
            .otherwise(round_dp(F.col("num") / F.col("total")))
            .cast("double")
            .alias("share"),
        )
    )


# Cumulative business days BEFORE each Monday-indexed weekday
# (Mon=0 ... Sun=6): [0,1,2,3,4,5,5]. 1970-01-01 was a Thursday, so
# monday_index(d) = (epoch_days + 3) % 7 — pure integer in both engines.
_BD_CUM = (0, 1, 2, 3, 4, 5, 5)


def _bd_case(col: str) -> str:
    whens = " ".join(f"WHEN {i} THEN {v}" for i, v in enumerate(_BD_CUM))
    return f"CASE ({col} + 3) % 7 {whens} END"


@query(
    "time_business_days",
    # Closed-form business-day arithmetic (no calendar table, no
    # per-day explode): bd_index(d) = 5*((days+3)//7) + cum[(days+3)%7]
    # counts business days from the epoch week; the lead time between
    # order and ship dates is one subtraction of two exact integers.
    # Distribution per order priority + the priority's mean lead.
    oracle=f"""
    WITH j AS (
      SELECT o.o_orderpriority AS pri,
             CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS d1,
             CAST(l.l_shipdate AS DATE) - DATE '1970-01-01' AS d2
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    bd AS (
      SELECT pri,
             (5 * ((d2 + 3) // 7) + {_bd_case("d2")})
             - (5 * ((d1 + 3) // 7) + {_bd_case("d1")}) AS bdays
      FROM j)
    SELECT pri AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(MIN(bdays) AS BIGINT) AS min_bd,
           CAST(MAX(bdays) AS BIGINT) AS max_bd,
           CAST(ROUND(SUM(bdays) * 1.0 / COUNT(*), 9) AS DOUBLE)
             AS mean_bd
    FROM bd GROUP BY pri
    """,
)
def time_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day lead time between order and ship dates per
    priority — weekday-only day counting WITHOUT a calendar dimension
    or per-day explode: bd_index(d) = 5*weeks + cum_weekday via the
    closed-form epoch-week decomposition ((epoch_days+3) div 7 /
    (epoch_days+3) mod 7 — 1970-01-01 anchors Thursday), so the count
    between any two dates is ONE subtraction of exact integers. The
    time_calendar_dim route joins a generated dim instead; this form
    is join-free and holiday-free (production adds a broadcast holiday
    set as a second subtraction term — documented). The difference is
    ANTISYMMETRIC — bd(a,b) = -bd(b,a) exactly — which this synthetic
    fixture exercises (ship dates precede order dates for some lines);
    numpy's busday_count uses a (end,begin] convention on reversed
    ranges and differs there by design.

    Scale shape: fact-to-fact equi-join on orderkey (the one shuffle),
    then pure in-row integer arithmetic + one hash agg; exact integer
    min/max/sum with one 9dp division."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("d1"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("d2"),
    )

    def bdi(col: str) -> F.Column:
        e = F.expr(f"({col} + 3) % 7")
        out = F.lit(_BD_CUM[6])
        for i, v in enumerate(_BD_CUM[:6]):
            out = F.when(e == i, v).otherwise(out)
        return F.expr(f"5 * (({col} + 3) div 7)") + out

    j = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "pri", (bdi("d2") - bdi("d1")).alias("bdays")
    )
    return j.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.min("bdays").cast("bigint").alias("min_bd"),
        F.max("bdays").cast("bigint").alias("max_bd"),
        round_dp(F.sum("bdays") / F.count(F.lit(1)))
        .cast("double")
        .alias("mean_bd"),
    ).withColumnRenamed("pri", "o_orderpriority")


def _pacf_oracle() -> str:
    # Unrolled Durbin-Levinson over the per-type acf vector r[1..7]
    # (``_ACF_CTE``, time_acf's own r). Every phi coefficient rounds 9dp
    # per step in BOTH engines, and every inner sum is an ascending-j
    # left-to-right fold, so the recursions track each other step for
    # step.
    sql = _ACF_CTE + f""",
    rv AS (
      SELECT event_type,
             list_transform(list_sort(list({{'l': lag, 'r': r}})),
                            s -> s.r) AS r
      FROM acf GROUP BY event_type
      HAVING COUNT(*) = {_ACF_LAGS}),
    p1 AS (SELECT event_type, r, [ROUND(r[1], 9)] AS phi FROM rv)"""
    for k in range(2, _ACF_LAGS + 1):
        sql += f"""
    , p{k} AS (
      SELECT event_type, r,
             list_append(
               list_transform(range(1, {k}), j ->
                 ROUND(phi[CAST(j AS INT)]
                       - ROUND((r[{k}] - list_sum(list_transform(range(1, {k}),
                             i -> phi[CAST(i AS INT)] * r[{k} - CAST(i AS INT)])))
                          / (1.0 - list_sum(list_transform(range(1, {k}),
                             i -> phi[CAST(i AS INT)] * r[CAST(i AS INT)]))), 9)
                         * phi[{k} - CAST(j AS INT)], 9)),
               ROUND((r[{k}] - list_sum(list_transform(range(1, {k}),
                     i -> phi[CAST(i AS INT)] * r[{k} - CAST(i AS INT)])))
                  / (1.0 - list_sum(list_transform(range(1, {k}),
                     i -> phi[CAST(i AS INT)] * r[CAST(i AS INT)]))), 9)) AS phi
      FROM p{k - 1})"""
    pacf_cols = ",\n           ".join(
        f"p{k}.phi[{k}]" for k in range(1, _ACF_LAGS + 1)
    )
    joins = " ".join(
        f"JOIN p{k} ON p{k}.event_type = p1.event_type"
        for k in range(2, _ACF_LAGS + 1)
    )
    return sql + f"""
    , wide AS (
      SELECT p1.event_type, [{pacf_cols}] AS pacf
      FROM p1 {joins})
    SELECT event_type, CAST(u.i AS BIGINT) AS lag,
           CAST(pacf[CAST(u.i AS INT)] AS DOUBLE) AS pacf
    FROM wide, unnest(range(1, {_ACF_LAGS + 1})) AS u(i)
    """


@query("time_pacf", oracle=_pacf_oracle())
def time_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function at lags 1..7 — time_acf's
    Box-Jenkins companion (the ACF/PACF pair is how AR/MA model orders
    are read off; PACF cuts off at the AR order): Durbin-Levinson
    recursion over each type's acf vector, with every coefficient
    9dp-rounded per step and every inner product an ascending-index
    left-to-right fold — both engines execute the identical rounded
    sequence (the recursive-fold determinism argument with per-step
    re-rounding).

    Scale shape: the acf vector is time_acf's own (``_acf_r``: one fact
    shuffle, grid-sized joins); the entire
    recursion is ONE in-row fold over a 7-element array per type —
    nothing after the moment agg scales with data."""
    rv = (
        _acf_r(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("nlags"),
            F.expr(
                "transform(array_sort(collect_list(struct(lag, r))), s -> s.r)"
            ).alias("r"),
        )
        .filter(F.col("nlags") == _ACF_LAGS)
    )
    # Durbin-Levinson expressions are generated (balanced by
    # construction): dots are ascending-i left-to-right folds, the new
    # coefficient and every updated phi entry round 9dp per step.
    def _dot(vec_idx: str) -> str:
        return (
            "aggregate(sequence(1, k - 1), 0D, (acc, i) -> "
            f"acc + element_at(phi, i) * element_at(r, {vec_idx}))"
        )

    a_expr = round_dp_sql(
        f"(element_at(r, k) - {_dot('k - i')}) / (1.0 - {_dot('i')})"
    )
    phi_j = round_dp_sql(f"p - {a_expr} * element_at(phi, k - 1 - j0)")
    step = (
        "(phi, k) -> concat("
        f"transform(phi, (p, j0) -> {phi_j}), "
        f"array({a_expr}))"
    )
    r1 = round_dp_sql("element_at(r, 1)")

    def _fold(upper: str) -> str:
        return f"aggregate(sequence(2, {upper}), array({r1}), {step})"

    # pacf(kk) = phi_kk,kk: re-run the bounded fold up to each kk and
    # take the last element (kk <= 7, in-row). kk = 1 must NOT enter
    # the fold: Spark's sequence(2, 1) is DESCENDING [2, 1] (the r8
    # short-doc gotcha class) — it is the base case directly.
    pacf_k = (
        f"transform(sequence(1, {_ACF_LAGS}), kk -> "
        f"IF(kk = 1, {r1}, "
        f"element_at({_fold('kk')}, kk)))"
    )
    out = rv.select(
        "event_type", F.expr(pacf_k).alias("pacf")
    ).select(
        "event_type",
        F.posexplode("pacf").alias("pos", "pacf"),
    )
    return out.select(
        "event_type",
        (F.col("pos") + 1).cast("bigint").alias("lag"),
        F.col("pacf").cast("double").alias("pacf"),
    )


@query(
    "seq_repeat_purchase_latency",
    # Repeat-purchase latency — first->second purchase per user (the
    # growth metric funnel_time_to_convert's FIRST-conversion latency
    # misses): rank purchases per user, keep ranks 1-2, pivot to one
    # row per user, gap in exact integer epoch-seconds. Repeat rate is
    # an exact count ratio; latency percentiles are quantile_cont
    # twins on the exact gap values (4dp, the agg_percentile
    # contract).
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'),
    u AS (
      SELECT user_id,
             MAX(CASE WHEN rn = 1 THEN epoch_us(ts) END) AS t1,
             MAX(CASE WHEN rn = 2 THEN epoch_us(ts) END) AS t2
      FROM p WHERE rn <= 2 GROUP BY user_id),
    g AS (
      SELECT user_id, (t2 - t1) // 1000000 AS gap_s FROM u
      WHERE t2 IS NOT NULL)
    SELECT CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_buyers,
           CAST((SELECT COUNT(*) FROM g) AS BIGINT) AS n_repeat,
           CAST(ROUND((SELECT COUNT(*) FROM g) * 1.0
                      / (SELECT COUNT(*) FROM u), 9) AS DOUBLE)
             AS repeat_rate,
           CAST(ROUND(quantile_cont(gap_s / 86400.0, 0.5), 4) AS DOUBLE)
             AS median_days,
           CAST(ROUND(quantile_cont(gap_s / 86400.0, 0.9), 4) AS DOUBLE)
             AS p90_days
    FROM g
    """,
)
def seq_repeat_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase latency — how long first-time buyers take to
    buy AGAIN (the retention/growth metric beside
    funnel_time_to_convert's acquisition latency and agg_new_returning's
    counts; repeat rate and median-days-to-repeat drive every LTV
    model): purchases rank per user on one (user_id) window, ranks 1-2
    pivot to a single row, the gap is exact integer epoch-seconds
    (the constant session-tz shift cancels in the difference), and the
    latency distribution reports exact-percentile days (4dp,
    quantile_cont twins — the agg_percentile contract).

    Scale shape: one user_id shuffle for the rank window over
    purchases only (a small filtered slice of the fact), a per-user
    pivot agg, and a global percentile over the repeat cohort —
    |repeat buyers| rows. Swap percentile_approx at 10^9 buyers
    (documented, agg_percentile posture)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    us = F.expr(_TS_US)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = e.select(
        "user_id", us.alias("us"), F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 2)
    u = p.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("us"))).alias("t1"),
        F.max(F.when(F.col("rn") == 2, F.col("us"))).alias("t2"),
    )
    u = u.localCheckpoint()  # feeds both the cohort counts and the gaps
    g = u.filter(F.col("t2").isNotNull()).select(
        F.expr("(t2 - t1) div 1000000").alias("gap_s")
    )
    nb = u.agg(F.count(F.lit(1)).cast("bigint").alias("n_buyers"))
    stats = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_repeat"),
        round_dp(F.percentile(F.col("gap_s") / 86400.0, F.lit(0.5)), 4)
        .cast("double")
        .alias("median_days"),
        round_dp(F.percentile(F.col("gap_s") / 86400.0, F.lit(0.9)), 4)
        .cast("double")
        .alias("p90_days"),
    )
    return nb.crossJoin(F.broadcast(stats)).select(
        "n_buyers",
        "n_repeat",
        round_dp(F.col("n_repeat") / F.col("n_buyers"))
        .cast("double")
        .alias("repeat_rate"),
        "median_days",
        "p90_days",
    )


# GSP/PrefixSpan level-3 knobs. Items are compound (event_type × value
# band ≥50) over a deterministic 1-in-3 event sample so the pattern
# lattice is genuinely sparse at test scale (raw 5-type sequences are so
# dense every user supports every triple and the prune would be dead
# code). minsup = 1/2 of the user universe, applied as the pure-integer
# predicate support_n * 2 >= n_users in BOTH engines.
_GSP_VALUE_BAND = 50.0
_GSP_SAMPLE_MOD = 3
_GSP_MINSUP_MUL = 2  # support_n * 2 >= n_users  <=>  support >= 50%


@query(
    "seq_gsp_triples",
    # TRUE ordered-subsequence support (GSP / PrefixSpan level 3):
    # user supports <a,b,c> iff positions i<j<k exist with those items.
    # Greedy earliest-extension is EXACT for subsequence existence
    # (first a, then first b after it, then any c after that), so the
    # whole level-wise chain runs on first-position grids, never on
    # materialized subsequences. seq_pair_support's first-occurrence
    # pairs are the weaker unit step; this is the real thing, with the
    # antimonotone minsup prune applied between levels (lossless:
    # support(<a,b,c>) <= support(<a,b>)).
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             event_type || CASE WHEN value >= {_GSP_VALUE_BAND} THEN '+' ELSE '-' END AS item,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      FROM events WHERE event_id % {_GSP_SAMPLE_MOD} = 0),
    u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM seq),
    grid AS (
      SELECT user_id, item, MIN(pos) AS p1, MAX(pos) AS lp
      FROM seq GROUP BY 1, 2),
    l1 AS (
      SELECT item AS a FROM (SELECT item, COUNT(*) AS c FROM grid GROUP BY item)
      WHERE c * {_GSP_MINSUP_MUL} >= (SELECT n_users FROM u)),
    fp2 AS (
      SELECT s.user_id, f.item AS a, s.item AS b, MIN(s.pos) AS p2
      FROM seq s
      JOIN (SELECT grid.* FROM grid JOIN l1 ON grid.item = l1.a) f
        ON s.user_id = f.user_id AND s.pos > f.p1
      GROUP BY 1, 2, 3),
    l2 AS (
      SELECT a, b FROM (SELECT a, b, COUNT(*) AS c FROM fp2 GROUP BY a, b)
      WHERE c * {_GSP_MINSUP_MUL} >= (SELECT n_users FROM u)),
    s3 AS (
      SELECT f.a AS item_a, f.b AS item_b, g.item AS item_c,
             CAST(COUNT(*) AS BIGINT) AS support_n
      FROM (SELECT fp2.* FROM fp2 JOIN l2 USING (a, b)) f
      JOIN grid g ON g.user_id = f.user_id AND g.lp > f.p2
      GROUP BY 1, 2, 3)
    SELECT item_a, item_b, item_c, support_n,
           CAST(ROUND(support_n * 1.0 / u.n_users, 9) AS DOUBLE) AS support
    FROM s3 CROSS JOIN u
    WHERE support_n * {_GSP_MINSUP_MUL} >= u.n_users
    """,
)
def seq_gsp_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-3 sequential pattern mining (GSP / PrefixSpan level 3)
    with TRUE subsequence support and level-wise antimonotone pruning —
    the ordered sibling of agg_apriori_triples (unordered baskets) and
    the full-strength successor of seq_pair_support (first-occurrence
    pairs).

    Scale shape: ONE user-partitioned window numbers each user's
    (sampled, value-banded) event stream; every later stage runs on
    POSITION GRIDS — the (user × item) min/max-position grid is ≤
    |users|·|items| rows, fp2 ≤ |users|·|surviving items|² — so
    per-user join fan-out is bounded by the (pruned) alphabet, never by
    event volume; the event stream is touched exactly twice (the
    numbering window and the level-2 greedy extension), and level 3 is
    a pure grid×grid join (`exists c after p2` ⟺ `last c position >
    p2`) whose aggregate is a plain count — no distinct. The minsup prune
    between levels is the classic Apriori/GSP candidate cut: items and
    pairs below 50 % user support never reach the next join (lossless
    for the ≥ minsup output by antimonotonicity). All supports are
    exact integers; the one double (support fraction) is a single
    rounded division, and the minsup predicate itself is pure-integer
    (support_n·2 ≥ n_users) so both engines prune identically."""
    return _gsp_triples(load(spark, sf_dir, "events"))


def _gsp_triples(events: DataFrame) -> DataFrame:
    """Core of seq_gsp_triples over any events-shaped frame (user_id,
    event_type, ts, event_id, value) — split out (the _pair_support
    pattern) so property tests can replay brute-force subsequence
    support on adversarial synthetic sequences."""
    e = events.filter(F.col("event_id") % _GSP_SAMPLE_MOD == 0)
    item = F.concat(
        F.col("event_type"),
        F.when(F.col("value") >= _GSP_VALUE_BAND, F.lit("+")).otherwise(
            F.lit("-")
        ),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", item.alias("item"), F.row_number().over(w).alias("pos")
    ).localCheckpoint()  # feeds fp1 + the two extension joins
    n_users = seq.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    # ONE (user x item) grid carries both greedy anchors: p1 (earliest,
    # seeds the L2 extension) and lp (latest — `exists c after p2` is
    # exactly `lp(u, c) > p2`, so level 3 never re-joins the event
    # stream and its aggregate is a plain count, no distinct)
    grid = (
        seq.groupBy("user_id", "item")
        .agg(F.min("pos").alias("p1"), F.max("pos").alias("lp"))
        .localCheckpoint()  # feeds L1 support + the L2 and L3 joins
    )
    l1 = (
        grid.groupBy(F.col("item").alias("a"))
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(n_users))
        .filter(F.col("c") * _GSP_MINSUP_MUL >= F.col("n_users"))
        .select("a")
    )
    fp2 = (
        seq.join(
            grid.select(
                "user_id", F.col("item").alias("a"), "p1"
            ).join(F.broadcast(l1), "a"),  # alphabet-sized prune list
            "user_id",
        )
        .filter(F.col("pos") > F.col("p1"))
        .groupBy("user_id", "a", F.col("item").alias("b"))
        .agg(F.min("pos").alias("p2"))
        .localCheckpoint()  # feeds the L2 support count + the L3 join
    )
    l2 = (
        fp2.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(n_users))
        .filter(F.col("c") * _GSP_MINSUP_MUL >= F.col("n_users"))
        .select("a", "b")
    )
    s3 = (
        fp2.join(F.broadcast(l2), ["a", "b"])
        .join(
            grid.select("user_id", F.col("item").alias("item_c"), "lp"),
            "user_id",
        )
        .filter(F.col("lp") > F.col("p2"))
        .groupBy(
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            "item_c",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support_n"))
    )
    return (
        s3.crossJoin(F.broadcast(n_users))
        .filter(F.col("support_n") * _GSP_MINSUP_MUL >= F.col("n_users"))
        .select(
            "item_a",
            "item_b",
            "item_c",
            "support_n",
            round_dp(F.col("support_n") / F.col("n_users"))
            .cast("double")
            .alias("support"),
        )
    )
