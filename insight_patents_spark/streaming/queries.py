"""Structured Streaming operators (SURVEY §2.10).

Reference parity: weekly patent-grant batches are an append-only dated
stream (SURVEY §1.1); each query here is the streaming form of a batch
aggregation, run with ``Trigger.AvailableNow`` over a file source so the
final state equals the batch answer — which is exactly what makes the
DuckDB oracle applicable (SURVEY §2.10 note).

Mechanics:
- The raw events parquet stores ns timestamps which the streaming file
  source cannot read either; the harness materializes a µs TIMESTAMP_NTZ
  copy per (sf, schema-version) into a temp dir once and streams that
  (SURVEY §5 workaround, owned here).
- Watermarks are required by Spark for streaming state cleanup; with
  AvailableNow + in-order files they do not drop rows, so results stay
  batch-equal (the late-data drop test builds a deliberately shuffled
  source instead).
- Each query writes to an in-memory sink table and returns the final
  result as a DataFrame.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..runtime import shared
from ..session import conf_scope
from ..sources.tables import load

# Streaming scratch (checkpoints + the µs-converted source copy). A
# checkpoint location is a deployment knob (HDFS/S3 on a cluster); locally
# prefer tmpfs — state-store + commit-log fsyncs dominate AvailableNow
# wall time on small data when the checkpoint sits on disk.
# Per-PROCESS (uuid suffix, removed at exit): concurrent suites sharing
# one scratch tree race — _run_available_now rmtree's the checkpoint it
# is about to use, and two first-writers can overwrite the events copy
# mid-read (the r9 scratch-isolation fix, same as relational._TMP).
_SCRATCH_ROOT = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
_STREAM_TMP = os.path.join(
    _SCRATCH_ROOT, f"ips_stream_{uuid.uuid4().hex[:12]}"
)
atexit.register(shutil.rmtree, _STREAM_TMP, ignore_errors=True)


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as TIMESTAMP (not NTZ): Spark watermarks require
    TimestampType. Branch on the observed dtype (the driver has shipped
    both ns-parquet and µs-parquet events): bigint nanos go through
    timestamp_micros (epoch-exact, tz-independent); a native
    TIMESTAMP_NTZ read is cast under the UTC session tz (epoch-exact)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes).get("ts") == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _events_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per source version) a µs-timestamp copy of events
    for file streaming. Keyed by src_stamp: the driver regenerates
    testdata between rounds, which must invalidate this copy."""
    from ..sources.tables import src_stamp

    key = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(_STREAM_TMP, key, f"events_us_{src_stamp(sf_dir, 'events')}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        _events_us(spark, sf_dir).coalesce(4).write.mode("overwrite").parquet(out)
    return out


def _stream_schema(spark: SparkSession, sf_dir: str):
    """Converted-events schema, shared per events version: deriving it
    spins up a batch parquet read (footer job), so only the first
    streaming query in the app pays that."""
    return shared(
        spark,
        sf_dir,
        "events",
        "stream_schema",
        lambda: _events_us(spark, sf_dir).schema,
    )


def _read_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_dir(spark, sf_dir)
    return spark.readStream.schema(_stream_schema(spark, sf_dir)).parquet(src)


# State-store partition count for streaming queries. Baked into each
# checkpoint at stream start (we always start fresh). Each partition is a
# state-store instance with its own snapshot/commit files, so on small/medium
# key cardinality fewer, larger stores win; on a real cluster raise this to
# O(executor cores). (r4: measured 8 -> 4 saves ~0.5 s of per-query store
# setup at sf0.1 with no task-parallelism loss at this key cardinality; 2
# measures the same as 4, so 4 keeps headroom.)
_STREAM_STATE_PARTITIONS = 4


def _run_available_now(
    stream_df: DataFrame,
    name: str,
    mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    spark = stream_df.sparkSession
    ckpt = os.path.join(
        _STREAM_TMP, "ckpt", f"{name}-{abs(hash(stream_df.schema.json())) % 10**8}"
    )
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    parts = str(state_partitions or _STREAM_STATE_PARTITIONS)
    with conf_scope(spark, {"spark.sql.shuffle.partitions": parts}):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@query(
    "stream_tumbling",
    oracle="""
    SELECT TIMESTAMP '1970-01-01 00:00:00' + CAST(FLOOR(epoch(ts) / 600) AS BIGINT) * 600 * INTERVAL 1 SECOND
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count + sum per event_type per 10-minute tumbling window
    (watermarked windowed aggregation; AvailableNow => batch-equal)."""
    s = _read_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    out = _run_available_now(agg, "ips_stream_tumbling")
    return out.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@query(
    "stream_sliding",
    oracle="""
    WITH b AS (
      SELECT value, ts,
             TIMESTAMP '1970-01-01 00:00:00' + CAST(FLOOR(epoch(ts) / 300) AS BIGINT) * 300 * INTERVAL 1 SECOND AS w0
      FROM events
    ),
    cand AS (
      SELECT w0 AS ws, value, ts FROM b
      UNION ALL
      SELECT w0 - INTERVAL 5 MINUTE AS ws, value, ts FROM b
    )
    SELECT ws AS window_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM cand
    WHERE ts >= ws AND ts < ws + INTERVAL 10 MINUTE
    GROUP BY ws
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event lands in two
    windows; the oracle enumerates both candidate windows per event)."""
    s = _read_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    out = _run_available_now(agg, "ips_stream_sliding")
    return out.select(
        F.col("window.start").alias("window_start"), "n_events", "total_value"
    )


@query(
    "stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 5 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec
    FROM sess GROUP BY user_id, sess_no
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 5-minute gap (session_window state
    op; oracle is the classic gaps-and-islands rewrite)."""
    s = _read_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("mn"), F.max("ts").alias("mx"))
    )
    out = _run_available_now(agg, "ips_stream_session")
    return out.select(
        "user_id",
        F.col("mn").alias("session_start"),
        "n_events",
        (
            F.expr("unix_micros(CAST(mx AS TIMESTAMP)) div 1000000")
            - F.expr("unix_micros(CAST(mn AS TIMESTAMP)) div 1000000")
        ).alias("duration_sec"),
    )


@query(
    "stream_streaks",
    # Streaming twin of win_streaks: same islands, same outputs, but the
    # island detection runs INCREMENTALLY as session-window state instead
    # of a batch sort. Oracle = the batch gaps-and-islands rewrite.
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
def stream_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks computed as STREAMING session
    windows — the incremental twin of the batch win_streaks (new events
    extend or open a user's current streak in state; no daily re-sort of
    history, the posture a 100 TB events feed needs). Timestamps are
    day-truncated so a 25-hour session gap merges points exactly 24 h
    apart (consecutive days) and never 48 h (a skipped day): each closed
    session IS one streak island. Same-day duplicates land inside the
    running session, so streak length is the exact day span; the tiny
    per-user rollup (count/max/sum over |streaks| rows) runs as a batch
    agg on the sink, the stream_rollup_incremental posture."""
    s = _read_stream(spark, sf_dir).select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day_ts")
    )
    agg = (
        s.withWatermark("day_ts", "1 day")
        .groupBy(F.col("user_id"), F.session_window("day_ts", "25 hours"))
        .agg(F.min("day_ts").alias("d0"), F.max("day_ts").alias("d1"))
    )
    out = _run_available_now(agg, "ips_stream_streaks")
    streak = out.select(
        "user_id", (F.datediff("d1", "d0") + 1).cast("bigint").alias("len")
    )
    return streak.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.sum("len").alias("active_days"),
    )


@query(
    "stream_watermark_late",
    # Deterministic late-drop, engineered around Spark's late-record
    # filter LAG (SPARK-40925: batch N filters late rows with the
    # watermark of batch N-1, while eviction uses batch N's — verified
    # empirically here: a 2-file source drops NOTHING because the
    # stragglers merge in the same batch that first evicts). Three
    # files by ts-range thirds, newest first:
    #   batch 0 (newest third): sets wm = global max(ts) - 10min.
    #   batch 1 (middle third): late filter still 0 -> MERGED; at batch
    #     end eviction emits every window with end <= wm (incl. batch
    #     1's contributions).
    #   batch 2 (oldest third): late filter now armed at wm -> every
    #     row DROPPED; nothing new emits.
    # Final answer = windows over the newest two thirds with window end
    # <= wm — exactly SQL-expressible. (Upgraded from r2's rows-only.)
    oracle="""
    WITH b AS (
      SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx FROM events
    ),
    keep AS (
      SELECT ts FROM events, b
      WHERE epoch_us(ts) > b.mn + (b.mx - b.mn) // 3
    )
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + CAST(FLOOR(epoch(ts) / 600) AS BIGINT) * 600 * INTERVAL 1 SECOND
             AS window_start,
           COUNT(*) AS n_events
    FROM keep, b
    WHERE (CAST(FLOOR(epoch(ts) / 600) AS BIGINT) + 1) * 600 * 1000000
            <= b.mx - 600 * 1000000
    GROUP BY 1
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data policy: files arrive newest-first, watermark = 10
    minutes, append mode. The oldest third arrives after the late filter
    is armed and is dropped entirely — the oracle replays the drop rule
    (see decorator note on the one-batch filter lag)."""
    from ..sources.tables import src_stamp

    key = sf_dir.strip("/").replace("/", "_")
    out_dir = os.path.join(
        _STREAM_TMP, key, f"events_thirds_{src_stamp(sf_dir, 'events')}"
    )
    if not os.path.exists(os.path.join(out_dir, "_done")):
        ev = _events_us(spark, sf_dir)
        row = ev.agg(
            F.expr("min(unix_micros(ts))").alias("mn"),
            F.expr("max(unix_micros(ts))").alias("mx"),
        ).collect()[0]
        cut1 = row["mn"] + (row["mx"] - row["mn"]) // 3  # oldest|middle
        cut2 = row["mn"] + 2 * ((row["mx"] - row["mn"]) // 3)  # middle|newest
        # Written (and therefore listed/processed) newest-third first.
        slices = (
            f"unix_micros(ts) > {cut2}",
            f"unix_micros(ts) > {cut1} AND unix_micros(ts) <= {cut2}",
            f"unix_micros(ts) <= {cut1}",
        )
        for i, pred in enumerate(slices):
            ev.filter(F.expr(pred)).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"f{i}")
            )
        open(os.path.join(out_dir, "_done"), "w").close()
    schema = _stream_schema(spark, sf_dir)
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(out_dir, "f*"))
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_available_now(agg, "ips_stream_late", mode="append")
    return out.select(F.col("window.start").alias("window_start"), "n_events")


@query(
    "stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_unique_events
    FROM (SELECT DISTINCT event_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on event_id within the watermark
    (dropDuplicatesWithinWatermark), then counts per type. event_id is
    unique in the source, so dedup is semantically the identity — the
    state machinery is what is exercised."""
    s = _read_stream(spark, sf_dir)
    dedup = (
        s.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
    )
    return _run_available_now(dedup, "ips_stream_dedup")


@query(
    "stream_static_join",
    oracle="""
    SELECT n.n_name, e.event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM events e
    JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n.n_name, e.event_type
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static dimension
    (broadcast to every micro-batch), then aggregates."""
    s = _read_stream(spark, sf_dir)
    nation = load(spark, sf_dir, "nation")
    joined = s.join(
        F.broadcast(nation), s.user_id % 25 == nation.n_nationkey
    )
    agg = (
        joined.withWatermark("ts", "10 minutes")
        .groupBy("n_name", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    return _run_available_now(agg, "ips_stream_static_join")


@query(
    "stream_stateful_custom",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_spend,
           CAST(MAX(value) AS DOUBLE) AS max_single
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful per-user aggregation via applyInPandasWithState:
    cumulative spend, event count, and running max held in explicit
    GroupState across micro-batches (the custom-operator escape hatch for
    semantics windows can't express)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_spend", T.DoubleType()),
            T.StructField("max_single", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total_micros", T.LongType()),  # exact int64 micro-units
            T.StructField("mx", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import numpy as np

        # Exact decimal(·,6) accumulation, vectorized: each value rounds to
        # 6 decimals and accumulates as int64 micro-units (no float drift,
        # no per-row Python objects). Equivalent to summing
        # Decimal(str(round(v, 6))) — verified element-wise on the test data.
        n, total, mx = 0, 0, float("-inf")
        if state.exists:
            n, total, mx = state.get
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                vals = pdf["value"].to_numpy()
                total += int(np.round(vals * 1e6).astype(np.int64).sum())
                mx = max(mx, float(vals.max()))
        state.update((n, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_spend": [total / 1e6],
                "max_single": [mx],
            }
        )

    s = _read_stream(spark, sf_dir).select("user_id", "ts", "value")
    result = (
        s.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = _run_available_now(result, "ips_stream_stateful", mode="update")
    # update mode emits one row per group per batch; keep the final state
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_spend", "max_single")
    )


@query(
    "stream_foreach_batch",
    oracle="""
    SELECT user_id, event_id AS last_event_id, value AS last_value
    FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch UPSERTs 'latest event per user'
    into a keyed parquet state table (read-modify-write with a
    deterministic tiebreak). The production pattern for idempotent
    merge-into-a-store sinks (batch_id makes retries idempotent in a real
    MERGE target); AvailableNow makes the final state the batch answer."""
    key = sf_dir.strip("/").replace("/", "_")
    state_dir = os.path.join(_STREAM_TMP, key, "latest_by_user")
    import shutil

    shutil.rmtree(state_dir, ignore_errors=True)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        sp = batch_df.sparkSession
        new = batch_df.select("user_id", "ts", "event_id", "value")
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            new = sp.read.parquet(state_dir).unionByName(new)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            new.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # state tables are small (one row per key); rewrite-in-place is the
        # local stand-in for MERGE INTO on a real lakehouse table
        latest.write.mode("overwrite").parquet(state_dir + "_next")
        shutil.rmtree(state_dir, ignore_errors=True)
        os.rename(state_dir + "_next", state_dir)

    s = _read_stream(spark, sf_dir)
    ckpt = os.path.join(_STREAM_TMP, "ckpt", f"foreach-{key}")
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        s.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(state_dir).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


def _events_stream_dir_single(spark: SparkSession, sf_dir: str) -> str:
    """Single-file µs copy: one input file -> one AvailableNow micro-batch,
    so a watermarked stream-stream inner join emits every match before any
    state eviction (batch-equal by construction)."""
    from ..sources.tables import src_stamp

    key = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(_STREAM_TMP, key, f"events_us1_{src_stamp(sf_dir, 'events')}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        _events_us(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(out)
    return out


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_sec
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase joins the same user's
    clicks from the preceding 10 minutes. Both sides are watermarked and
    the join condition time-bounds the click relative to the purchase —
    exactly what Spark needs to bound join state and GC old clicks; on a
    cluster this runs continuously with state eviction at the watermark.
    Attribution-window semantics (click-to-purchase), the canonical
    stream-stream use."""
    src = _events_stream_dir_single(spark, sf_dir)
    schema = _stream_schema(spark, sf_dir)
    clicks = (
        spark.readStream.schema(schema)
        .parquet(src)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user_id = c_user_id
            AND click_ts >= purchase_ts - INTERVAL 10 MINUTES
            AND click_ts <= purchase_ts
            """
        ),
    ).select(
        "purchase_id",
        "click_id",
        (
            F.expr("unix_micros(CAST(purchase_ts AS TIMESTAMP)) div 1000000")
            - F.expr("unix_micros(CAST(click_ts AS TIMESTAMP)) div 1000000")
        ).alias("gap_sec"),
    )
    return _run_available_now(joined, "ips_stream_stream_join", mode="append")


@query(
    "stream_transform_with_state",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n_events
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's transformWithStateInPandas — the successor API to
    applyInPandasWithState (stream_stateful_custom exhibits the older
    one): an object-oriented StatefulProcessor with typed, composable
    state primitives. Here a per-user MapState (event_type -> running
    count) is updated each micro-batch and the current per-type counts
    are emitted in Update mode; counts are monotone, so the final
    snapshot per (user, type) is the batch GROUP BY answer.

    GATED (the mm_decode_stub pattern): the TWS Python worker talks to
    the JVM state server over protobuf, and this container ships no
    google.protobuf — so the real TWS path below runs whenever protobuf
    is importable, and otherwise the SAME semantics (per-(user, type)
    running count in explicit GroupState) run through
    applyInPandasWithState keyed on the composite key. Either path is
    verified by the same oracle. TWS additionally needs the RocksDB
    state store (bundled rocksdbjni; the only provider with the
    multi-column-family state the API uses); conf is set for this stream
    and restored after. At 100 TB the state lives in per-partition
    RocksDB instances with changelog checkpointing — no state ever
    transits the driver."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    s = _read_stream(spark, sf_dir).select("user_id", "event_type")
    try:
        import google.protobuf  # noqa: F401  (absent in this container)

        have_protobuf = True
    except ImportError:
        have_protobuf = False

    if have_protobuf:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class TypeCounts(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._counts = handle.getMapState(
                    "type_counts", "event_type string", "n bigint"
                )

            def handleInputRows(self, key, rows, timer_values):
                for pdf in rows:
                    for et, n in pdf.groupby("event_type").size().items():
                        cur = self._counts.getValue((et,))
                        self._counts.updateValue(
                            (et,), ((cur[0] if cur else 0) + int(n),)
                        )
                uid = key[0]
                items = list(self._counts.iterator())
                yield pd.DataFrame(
                    {
                        "user_id": pd.Series([uid] * len(items), dtype="int64"),
                        "event_type": [k[0] for k, _ in items],
                        "n_events": pd.Series(
                            [v[0] for _, v in items], dtype="int64"
                        ),
                    }
                )

            def close(self) -> None:
                pass

        result = s.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TypeCounts(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        rocksdb = {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            )
        }
        with conf_scope(spark, rocksdb):
            out = _run_available_now(result, "ips_stream_tws", mode="update")
    else:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        # Keyed on user_id alone with the per-type map held as two parallel
        # arrays in ONE GroupState — mirroring the TWS branch's MapState
        # shape. r5: the previous composite (user, type) key meant
        # |users|x|types| state-server round-trips per batch (each
        # get/update is a worker<->JVM protocol exchange); per-user keying
        # cuts the group count |types|-fold for the same emitted rows.
        state_schema = T.StructType(
            [
                T.StructField("types", T.ArrayType(T.StringType())),
                T.StructField("ns", T.ArrayType(T.LongType())),
            ]
        )

        def update(key, pdfs, state: GroupState):
            import numpy as np

            counts: dict[str, int] = {}
            if state.exists:
                types0, ns0 = state.get
                counts = dict(zip(types0, ns0))
            for pdf in pdfs:
                # np.unique beats pandas groupby ~5x on these small
                # per-user frames; at 1.5k+ update calls per batch the
                # per-call constant is the whole cost.
                ets, cnts = np.unique(
                    pdf["event_type"].to_numpy(), return_counts=True
                )
                for et, n in zip(ets, cnts):
                    counts[et] = counts.get(et, 0) + int(n)
            types = sorted(counts)
            ns = [counts[t] for t in types]
            state.update((types, ns))
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([key[0]] * len(types), dtype="int64"),
                    "event_type": types,
                    "n_events": pd.Series(ns, dtype="int64"),
                }
            )

        result = s.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        out = _run_available_now(result, "ips_stream_tws", mode="update")
    # Update mode re-emits a key's snapshot every batch it changes; counts
    # only grow, so the final state is the per-key maximum.
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("n_events").desc()
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "n_events")
    )


@query(
    "stream_rollup_incremental",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket_ts,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate: foreachBatch merges each
    micro-batch's MINUTE-level partials (count / decimal sum / min / max
    — all mergeable) into a persistent rollup table; the returned result
    re-rolls the maintained minutes up to hours. Because every statistic
    is mergeable and the sum is decimal-exact, the incrementally
    maintained answer is bit-identical to the direct batch aggregate
    over all events — the continuous-aggregate correctness property,
    checked by the oracle. Batch twin: time_rollup_hier (same tree,
    recomputed); this operator is how the finest level stays fresh in
    production without ever reprocessing history."""
    key = sf_dir.strip("/").replace("/", "_")
    state_dir = os.path.join(_STREAM_TMP, key, "rollup_minute")
    import shutil

    shutil.rmtree(state_dir, ignore_errors=True)

    def merge_partials(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a retried micro-batch must not
        # double-count. The last merged batch_id travels INSIDE the
        # state dir (underscore-prefixed -> invisible to the parquet
        # reader) and swaps atomically with it, so replaying an
        # already-merged batch is a no-op (ADVICE r2).
        marker = os.path.join(state_dir, "_last_batch")
        if os.path.exists(marker):
            with open(marker) as fh:
                if batch_id <= int(fh.read().strip()):
                    return
        sp = batch_df.sparkSession
        part = (
            batch_df.groupBy(
                F.date_trunc("minute", "ts").alias("m_ts"), "event_type"
            ).agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(22,6)")).alias("sum_dec"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
        )
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            prev = sp.read.parquet(state_dir)
            part = (
                prev.unionByName(part)
                .groupBy("m_ts", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_dec").alias("sum_dec"),
                    F.min("min_value").alias("min_value"),
                    F.max("max_value").alias("max_value"),
                )
            )
        part.write.mode("overwrite").parquet(state_dir + "_next")
        with open(os.path.join(state_dir + "_next", "_last_batch"), "w") as fh:
            fh.write(str(batch_id))
        shutil.rmtree(state_dir, ignore_errors=True)
        os.rename(state_dir + "_next", state_dir)

    s = _read_stream(spark, sf_dir)
    ckpt = os.path.join(_STREAM_TMP, "ckpt", f"rollup-inc-{key}")
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        s.writeStream.foreachBatch(merge_partials)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    minutes = spark.read.parquet(state_dir)
    return (
        minutes.groupBy(
            F.date_trunc("hour", "m_ts").cast("timestamp_ntz").alias("bucket_ts"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .select(
            "bucket_ts", "event_type", "n_events", "sum_value",
            "min_value", "max_value",
        )
    )


_SESSION_GAP_US = 300_000_000  # 5-minute gap, in epoch micros


def _sessionize_update(key, pdfs, state):
    """Per-user micro-batch sessionizer for stream_sessionize_state
    (module-level so the multi-batch carry logic is directly testable —
    the AvailableNow single-batch run never exercises it). state =
    (start_us, last_us, n, total_micros) of the OPEN session only."""
    import numpy as np
    import pandas as pd

    batch = pd.concat(list(pdfs), ignore_index=True)
    if not len(batch):
        return
    batch = batch.sort_values(["ts_us", "event_id"], kind="mergesort")
    ts = batch["ts_us"].to_numpy(np.int64)
    # decimal(·,6)-exact accumulation as int64 micro-units (the
    # stream_stateful_custom recipe, verified element-wise there)
    vm = np.round(batch["value"].to_numpy(np.float64) * 1e6).astype(np.int64)
    s_start = s_last = s_n = s_total = None
    if state.exists:
        s_start, s_last, s_n, s_total = state.get
    new = np.empty(len(ts), dtype=bool)
    new[0] = s_start is None or (ts[0] - s_last) > _SESSION_GAP_US
    new[1:] = (ts[1:] - ts[:-1]) > _SESSION_GAP_US
    bounds = np.flatnonzero(new)
    if bounds.size == 0 or bounds[0] != 0:
        # leading chunk continues the carried open session
        bounds = np.concatenate([np.zeros(1, dtype=np.int64), bounds])
    counts = np.diff(np.concatenate([bounds, [len(ts)]]))
    sums = np.add.reduceat(vm, bounds)
    starts = ts[bounds].copy()
    if not new[0]:
        starts[0] = s_start
        counts[0] += s_n
        sums[0] += s_total
    state.update((int(starts[-1]), int(ts[-1]), int(counts[-1]), int(sums[-1])))
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "session_start_us": starts.astype("int64"),
            "n_events": counts.astype("int64"),
            "session_value": sums / 1e6,
        }
    )


@query(
    "stream_sessionize_state",
    # Oracle = the batch gaps-and-islands rewrite (win_sessionize's
    # pattern) with the session start exposed as epoch micros — the
    # stream's final state must equal the batch answer exactly.
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
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
      FROM flagged
    )
    SELECT user_id,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, sess_no
    """,
)
def stream_sessionize_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionizer via applyInPandasWithState — the
    escape hatch for session semantics session_window can't express
    (stream_session shows the built-in op; THIS operator carries
    per-session custom aggregates through explicit GroupState, the shape
    you need for e.g. session-value caps or first/last-event payloads).

    Per user, GroupState holds only the OPEN session (start_us, last_us,
    n, decimal-exact value total in int64 micro-units). Each micro-batch
    sessionizes its rows VECTORIZED (sort by (ts_us, event_id), gap>5min
    flags via diff, per-segment aggregates via add.reduceat — no per-row
    Python), merges the carried open session into the first segment when
    the gap allows, emits one snapshot row per touched session, and
    stores the last segment back. A session's final snapshot is its row
    with the highest n_events, so the post-stream dedup is one
    (user_id, session_start_us) groupBy — closed sessions emit exactly
    once, the still-open tail session emits once per batch it grows in.
    State is O(1) per user, emissions are O(sessions touched per batch):
    both bounded at 100 TB. AvailableNow + in-order files make the final
    state the batch answer (module-header contract); a 24/7 deployment
    would add a watermark + EventTimeTimeout flush for idle users."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("session_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("total_micros", T.LongType()),  # exact int64 micro-units
        ]
    )
    s = _read_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("ts_us"),
        "value",
    )
    result = s.groupBy("user_id").applyInPandasWithState(
        _sessionize_update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_available_now(result, "ips_stream_sessionize", mode="update")
    # final snapshot per session = the emission with the highest n_events
    return out.groupBy("user_id", "session_start_us").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("session_value", "n_events").alias("session_value"),
    )


_SENTINEL_USER = -1  # watermark punctuation rows; never sessionized


def _events_stream_dir_ordered(
    spark: SparkSession, sf_dir: str, n_files: int = 2
) -> str:
    """IN-ORDER ts-range-split copy of events for the timer sessionizer:
    file i holds the i-th event-time range with ascending mtimes, so the
    watermark advances monotonically across micro-batches (the file
    analogue of per-partition-ordered Kafka). Two trailing SENTINEL
    files (one far-future row each under ``_SENTINEL_USER``) are the
    end-of-stream punctuation: the first advances the watermark past
    every possible open-session timeout, the second triggers the batch
    in which those timers fire — Spark evaluates event-time timers
    against the watermark computed at the END of the PREVIOUS batch, so
    one sentinel alone would advance the clock without ever ticking it.

    n_files=2 data batches (4 micro-batches with the sentinel tail —
    VERDICT r12 #3): the query's cost is |active users| x batches
    Python group-state protocol exchanges, so batch count is the lever;
    2 in-order ranges still exercise every session path (in-batch gap
    closes, carried-merge across the file boundary, timer flush via the
    sentinel pair) — the timer-fire semantics need the TWO sentinels,
    not a particular data-batch count. A real deployment's trigger
    cadence is a latency/cost knob in exactly this way."""
    from ..sources.tables import src_stamp

    import glob as _glob

    key = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(
        _STREAM_TMP, key, f"events_seq_{src_stamp(sf_dir, 'events')}"
    )
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)  # partial build from a crash
    os.makedirs(out, exist_ok=True)
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    mn, mx = (
        ev.agg(
            F.expr("unix_micros(min(ts))"), F.expr("unix_micros(max(ts))")
        ).first()
    )
    span = int(mx) - int(mn) + 1
    base_mtime = 1_600_000_000
    # ONE pass for all range files (n_files sequential filtered scans of
    # the single-split parquet measured 16 s at sf0.1): bucket by ts
    # range, hash-repartition on the bucket so each bucket lands in one
    # task, partitionBy-split the dirs, then move each bucket's single
    # part file into mtime order
    tmpd = os.path.join(out, "_build")
    (
        ev.withColumn(
            "bucket",
            F.least(
                ((F.expr("unix_micros(ts)") - F.lit(int(mn)))
                 * n_files / F.lit(span)).cast("int"),
                F.lit(n_files - 1),
            ),
        )
        .repartition(n_files, "bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(tmpd)
    )
    for i in range(n_files):
        parts = _glob.glob(os.path.join(tmpd, f"bucket={i}", "part-*.parquet"))
        if len(parts) != 1:
            raise RuntimeError(
                f"in-order stream materialization needs exactly one part "
                f"file per ts bucket, got {len(parts)} for bucket {i} — "
                f"empty range or multi-task bucket breaks the mtime replay"
            )
        dst = os.path.join(out, f"f{i:02d}.parquet")
        shutil.move(parts[0], dst)
        os.utime(dst, (base_mtime + i, base_mtime + i))
    shutil.rmtree(tmpd, ignore_errors=True)
    for j in range(2):
        sentinel_us = int(mx) + (10 + j) * _SESSION_GAP_US
        _write_single_file(
            spark.range(1).select(
                F.lit(_SENTINEL_USER).cast("long").alias("user_id"),
                F.lit(-1).cast("long").alias("event_id"),
                F.timestamp_micros(F.lit(sentinel_us)).alias("ts"),
                F.lit(0.0).alias("value"),
            ),
            os.path.join(out, f"s{j:02d}.parquet"),
            base_mtime + n_files + j,
        )
    with open(marker, "w"):
        pass
    return out


def _sessionize_timer_update(key, pdfs, state):
    """Per-user TIMER-driven sessionizer (stream_sessionize_timer;
    module-level for direct testability). Differs from
    :func:`_sessionize_update` in WHEN sessions leave the operator:
    sessions are emitted exactly once, at close — by an in-batch gap, by
    the carried open session failing to merge with the next batch, or by
    an event-time TIMER firing after the watermark passes the session's
    idle deadline (last_us + gap). No downstream dedup needed: the
    output is append-clean."""
    import numpy as np
    import pandas as pd

    def _rows(starts, counts, sums):
        return pd.DataFrame(
            {
                "user_id": pd.Series([key[0]] * len(starts), dtype="int64"),
                "session_start_us": pd.Series(starts, dtype="int64"),
                "n_events": pd.Series(counts, dtype="int64"),
                "session_value": pd.Series(sums, dtype="float64") / 1e6,
            }
        )

    if key[0] == _SENTINEL_USER:
        for _ in pdfs:  # drain; punctuation rows carry no sessions
            pass
        return
    if state.hasTimedOut:
        s_start, _s_last, s_n, s_total = state.get
        state.remove()
        yield _rows([s_start], [s_n], [s_total])
        return
    frames = list(pdfs)
    batch = frames[0] if len(frames) == 1 else pd.concat(
        frames, ignore_index=True
    )
    if not len(batch):
        return
    # np.lexsort beats sort_values ~3x on these small per-user frames;
    # at |users| update calls x 6 micro-batches the per-call pandas
    # constant is the whole cost (the _sessionize_update np.unique
    # lesson, applied to the sort)
    ts = batch["ts_us"].to_numpy(np.int64)
    order = np.lexsort((batch["event_id"].to_numpy(np.int64), ts))
    ts = ts[order]
    vm = np.round(
        batch["value"].to_numpy(np.float64)[order] * 1e6
    ).astype(np.int64)
    s_start = s_last = s_n = s_total = None
    if state.exists:
        s_start, s_last, s_n, s_total = state.get
    new = np.empty(len(ts), dtype=bool)
    new[0] = s_start is None or (ts[0] - s_last) > _SESSION_GAP_US
    new[1:] = (ts[1:] - ts[:-1]) > _SESSION_GAP_US
    # the carried open session closes NOW if this batch's first event
    # does not extend it (its timer may not have fired yet: the
    # watermark lags behind this user's own event times)
    carried_closes = s_start is not None and new[0]
    bounds = np.flatnonzero(new)
    if bounds.size == 0 or bounds[0] != 0:
        bounds = np.concatenate([np.zeros(1, dtype=np.int64), bounds])
    counts = np.diff(np.concatenate([bounds, [len(ts)]]))
    sums = np.add.reduceat(vm, bounds)
    starts = ts[bounds].copy()
    if not new[0] and s_start is not None:
        starts[0] = s_start
        counts[0] += s_n
        sums[0] += s_total
    state.update((int(starts[-1]), int(ts[-1]), int(counts[-1]), int(sums[-1])))
    # idle deadline: fires once the watermark passes last event + gap
    state.setTimeoutTimestamp((int(ts[-1]) + _SESSION_GAP_US) // 1000)
    out_starts = list(starts[:-1])
    out_counts = list(counts[:-1])
    out_sums = list(sums[:-1])
    if carried_closes:
        out_starts.insert(0, s_start)
        out_counts.insert(0, s_n)
        out_sums.insert(0, s_total)
    if out_starts:
        yield _rows(out_starts, out_counts, out_sums)


@query(
    "stream_sessionize_timer",
    # Emit-at-close must still equal the batch gaps-and-islands answer:
    # every session closes exactly once (gap, carried-merge failure, or
    # timer), so the union of emissions is the batch session set.
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
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
      FROM flagged
    )
    SELECT user_id,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, sess_no
    """,
)
def stream_sessionize_timer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMER-driven idle-session flush — the emit-at-close twin of
    stream_sessionize_state (which emits grow-snapshots and dedups after
    the fact). Sessions leave the operator exactly once, when they
    CLOSE; idle users are flushed by Spark's own event-time timer
    machinery (``GroupStateTimeout.EventTimeTimeout`` +
    ``state.setTimeoutTimestamp(last_event + gap)`` +
    ``state.hasTimedOut``), not by an end-of-stream scan. This is the
    shape a 24/7 deployment needs: closed sessions flow downstream with
    bounded latency (watermark delay + gap) while the state store holds
    only open sessions.

    GATED like stream_transform_with_state: the Spark-4
    transformWithStateInPandas form of this operator (a registered
    ProcessingTime/EventTime timer on a StatefulProcessor) needs the
    protobuf state-server wire format, absent in this container — the
    applyInPandasWithState event-time timeout below is the same timer
    semantics through the stable API, and would be verified by the same
    oracle.

    Mechanics of determinism (test-SF stand-ins for a real stream):
    - the source is ts-range-split in-order files
      (:func:`_events_stream_dir_ordered`), so watermark (delay 0s)
      advances monotonically and never drops data rows;
    - if a timer fires at batch start (watermark > last_us + gap), every
      later event for that user has ts >= the watermark, so the oracle
      also starts a new session there — timer flushes never split an
      oracle session;
    - two far-future sentinel rows close the stream: sentinel 1 drives
      the watermark past all idle deadlines, sentinel 2 triggers the
      batch in which those timers fire (timers evaluate against the
      previous batch's watermark), so AvailableNow termination leaves no
      session unemitted."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("session_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("total_micros", T.LongType()),
        ]
    )
    src = _events_stream_dir_ordered(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    s = stream.withWatermark("ts", "0 seconds").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("ts_us"),
        "value",
        "ts",
    )
    result = s.groupBy("user_id").applyInPandasWithState(
        _sessionize_timer_update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # 16 state partitions (not the suite default 4): this query's cost
    # is |active users| group-state protocol exchanges x 6 micro-batches
    # — Python-side per-group work, where worker parallelism wins over
    # the store-setup saving that motivated 4 (measured: 16 vs 4 is
    # ~1.6x at sf0.1). The per-key-timer floor itself is honest: a
    # TWS/RocksDB deployment moves timer bookkeeping into the state
    # backend, this is the stable-API equivalent.
    return _run_available_now(
        result, "ips_stream_sessionize_timer", mode="append",
        state_partitions=16,
    )


def _write_single_file(df: DataFrame, dst: str, mtime: int) -> None:
    """Write ``df`` as exactly ONE parquet file at ``dst`` with a pinned
    mtime — the building block of every in-order file-stream source here
    (FileStreamSource replays by modification time)."""
    import glob as _glob

    tmpd = f"{dst}_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmpd)
    parts = _glob.glob(os.path.join(tmpd, "part-*.parquet"))
    if len(parts) != 1:
        raise RuntimeError(
            f"in-order stream materialization needs exactly one part file "
            f"per range, got {len(parts)} in {tmpd} — empty sub-range or "
            f"multi-part writer breaks the mtime replay contract"
        )
    shutil.move(parts[0], dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmpd, ignore_errors=True)


def _docs_stream_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Materialize (once per source version) an IN-ORDER multi-file copy
    of documents for file streaming: file i holds the i-th doc_id range,
    mtimes ascend with the ranges, so FileStreamSource's
    modification-time ordering replays the corpus in doc_id order. This
    is the test-SF stand-in for a real arrival stream (Kafka / object
    landing zone) — at deploy time the source already exists and this
    helper disappears; determinism of stream_dedup_store's oracle rests
    on the in-order arrival it enforces (module-header contract)."""
    from ..sources.tables import src_stamp

    key = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(
        _STREAM_TMP, key, f"docs_seq_{src_stamp(sf_dir, 'documents')}"
    )
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    # no marker = never built OR a crash mid-build left a partial dir;
    # rebuild from clean so stale files can't mix with fresh ones
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = int(mx) - int(mn) + 1
    base_mtime = 1_600_000_000
    for i in range(n_files):
        lo = int(mn) + (span * i) // n_files
        hi = int(mn) + (span * (i + 1)) // n_files
        _write_single_file(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            os.path.join(out, f"f{i:02d}.parquet"),
            base_mtime + i,
        )
    with open(marker, "w"):
        pass
    return out


# stream_dedup_store's signature store: compact once the store exceeds
# this many data files (4 micro-batches at any SF means compaction fires
# on the last batch of the standard run, so the pass is exercised by the
# gate, not only by tests). At 100 TB the store is Delta/Iceberg and this
# is OPTIMIZE/rewrite_data_files on a schedule.
_DEDUP_STORE_MAX_FILES = 3


def _dedup_store_committed(store: str) -> set[int]:
    try:
        with open(os.path.join(store, "_committed")) as fh:
            return {int(line) for line in fh if line.strip()}
    except FileNotFoundError:
        return set()


def _dedup_store_merge(
    batch_df: DataFrame, batch_id: int, store: str,
    max_files: int = _DEDUP_STORE_MAX_FILES,
) -> None:
    """One micro-batch of the persistent-store dedup (module-level so the
    replay-idempotency and compaction contracts are directly testable).

    Idempotency: a micro-batch appends its winners as ONE file and then
    records its batch_id in the store's ``_committed`` log; a replayed
    batch (task/trigger failure then retry) finds its id there and
    no-ops, so retries cannot double-insert (the MERGE idempotency a
    Delta store would give via txn versioning — ADVICE r11).

    Compaction: past ``max_files`` data files the store is rewritten as
    one file (winners are disjoint across batch files, so compaction is
    a pure concat — read-all, write-one, then drop the inputs; the
    transactional form at scale is Delta OPTIMIZE)."""
    import glob as _glob

    # recover a compaction that crashed mid-flight. The intent log is
    # written BEFORE the compacted file (first line = target, rest =
    # inputs) so every crash window is decidable by target existence:
    # target present (its _write_single_file rename is atomic) ⇒ the
    # compaction committed, finish dropping its inputs; target absent ⇒
    # the compaction never landed, abort it (inputs are intact) and
    # clear any partial tmp dir. Without this ordering, a crash between
    # writing the compacted file and the log would leave the compacted
    # rows AND all their inputs with no record — double-counted forever.
    pending = os.path.join(store, "_compact_pending")
    if os.path.exists(pending):
        with open(pending) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        target, inputs = lines[0], lines[1:]
        if os.path.exists(target):
            for f in inputs:
                if f != target and os.path.exists(f):
                    os.remove(f)
        else:
            shutil.rmtree(f"{target}_tmp", ignore_errors=True)
        os.remove(pending)
    if batch_id in _dedup_store_committed(store):
        return  # replayed micro-batch: its winners are already committed
    bspark = batch_df.sparkSession
    winners = (
        batch_df.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.md5(
                F.encode(
                    F.substring(F.lower(F.trim("text")), 1, 40), "UTF-8"
                )
            ).alias("sig"),
        )
        .groupBy("sig")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    os.makedirs(store, exist_ok=True)
    own = os.path.join(store, f"b{batch_id:06d}.parquet")
    # exclude this batch's OWN file from `seen`: a crash after the
    # winners file landed but before the _committed append leaves it
    # orphaned, and a replay that anti-joined against it would empty the
    # winners and overwrite the file with nothing — losing those
    # signatures forever. Skipping it makes the replay recompute the
    # identical winners (the overwrite is then a byte-identical no-op).
    data_files = sorted(
        f for f in _glob.glob(os.path.join(store, "*.parquet")) if f != own
    )
    if data_files:
        seen = bspark.read.parquet(*data_files).select("sig")
        winners = winners.join(seen, "sig", "left_anti")
    _write_single_file(winners.select("doc_id", "sig"), own,
                       1_700_000_000 + batch_id)
    # the commit point: replay before this line recomputes (same result,
    # including the orphaned-own-file window above), replay after it
    # no-ops
    with open(os.path.join(store, "_committed"), "a") as fh:
        fh.write(f"{batch_id}\n")
    data_files = sorted(_glob.glob(os.path.join(store, "*.parquet")))
    if len(data_files) > max_files:
        target = os.path.join(store, f"c{batch_id:06d}.parquet")
        # intent log BEFORE the compacted file: target first, then the
        # inputs it replaces (see the recovery contract above)
        with open(pending, "w") as fh:
            fh.write(target + "\n" + "\n".join(data_files) + "\n")
        compacted = bspark.read.parquet(*data_files).select("doc_id", "sig")
        _write_single_file(compacted, target, 1_700_000_000 + batch_id)
        for f in data_files:
            os.remove(f)
        os.remove(pending)


@query(
    "stream_dedup_store",
    # Incremental exact dedup against a persistent store must equal the
    # global batch answer: first-arrival == min doc_id under in-order
    # replay, so the winner set is one GROUP BY over the whole corpus.
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
           md5(substr(lower(trim(text)), 1, 40)) AS sig
    FROM documents WHERE text IS NOT NULL
    GROUP BY md5(substr(lower(trim(text)), 1, 40))
    """,
)
def stream_dedup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup against a PERSISTENT signature store
    — the LLM-pipeline shape §2.10 didn't yet touch (dedup_incremental
    is its batch twin): documents arrive as micro-batches
    (maxFilesPerTrigger=1 over the in-order multi-file copy, ≥4 real
    micro-batches); each batch, inside ``foreachBatch``:

      1. signature = md5 of the normalized 40-char PREFIX per doc (a
         prefix fingerprint — the whole-text hash is unique on this
         synthetic corpus, which would make the store a no-op; prefix
         fingerprints are the crawl-snapshot dedup primitive and give
         this corpus real cross-batch duplicate signatures). NULL text
         never signs — both engines would md5-NULL differently through
         joins;
      2. in-batch winners: min doc_id per signature (one map-side
         combinable agg on the batch);
      3. cross-batch dedup: anti-join the winners against the on-disk
         signature store (sig is the join key — at 100 TB the store is
         a Delta/Iceberg table and this step is a MERGE ... WHEN NOT
         MATCHED INSERT; plain parquet append is the jar-less local
         equivalent, disclosed in SCALE.md §6);
      4. append survivors to the store (the batch's commit).

    The store is the ONLY cross-batch state — no Spark state store, so
    the pattern survives restarts and arbitrarily long streams (state
    size = distinct corpus signatures, on disk, never in executor
    memory; contrast stream_dedup, whose dropDuplicates state lives in
    the state store and needs a watermark to bound). Final result =
    the store contents; under in-order arrival first-arrival-wins ==
    global min-doc_id-wins, which is the DuckDB oracle.

    Batch replays are no-ops (the ``_committed`` log in
    :func:`_dedup_store_merge`) and the store self-compacts past
    ``_DEDUP_STORE_MAX_FILES`` data files, so an arbitrarily long stream
    keeps a bounded file count (tests pin both)."""
    from ..sources.tables import src_stamp

    src = _docs_stream_dir(spark, sf_dir)
    key = sf_dir.strip("/").replace("/", "_")
    store = os.path.join(
        _STREAM_TMP, key, f"dedup_store_{src_stamp(sf_dir, 'documents')}"
    )
    # deterministic reruns in one process: the store is the query's
    # OUTPUT, not a cache — reset it (and the checkpoint) per run
    shutil.rmtree(store, ignore_errors=True)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        _dedup_store_merge(batch_df, batch_id, store)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = os.path.join(_STREAM_TMP, "ckpt", "ips_stream_dedup_store")
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(store).select("doc_id", "sig")
