"""Join operators (SURVEY §2.3).

Reference parity: the citation network is built by joining patent records
to citation pairs (SURVEY §0.1 step 3, [PK-M]); `join_self_2hop` is the
exact traversal pattern (edges ⋈ edges) the citation graph uses.

Scale notes:
- Dim tables (region/nation/supplier) are broadcast explicitly — zero
  shuffle on the fact side regardless of fact size.
- Big-big equi joins (lineitem ⋈ orders) shuffle on the join key; AQE
  handles skew splitting at large SF.
- Non-equi joins (theta/range) are kept sub-quadratic with an equi
  blocking key (brand, user) so the planner produces a shuffled
  hash/sort-merge join on the block key with the range predicate as a
  post-join filter, not a full BNLJ cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions.stable import dsum, hex_int, sql_dsum
from ..registry import query
from ..session import conf_scope
from ..sources.tables import load


@query(
    "join_inner_equi",
    oracle=f"""
    SELECT c.c_mktsegment,
           o.o_orderpriority,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_orderpriority
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way equi join over the fact chain, aggregated so the result
    stays small while every join row is exercised."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@query(
    "join_broadcast",
    oracle=f"""
    SELECT n.n_name, COUNT(*) AS n_customers,
           {sql_dsum('c.c_acctbal')} AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name <> 'EUROPE'
    GROUP BY n.n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast dims: nation and region ship to every executor, so
    the customer side never shuffles for the join."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") != "EUROPE")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_balance"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber, l.l_quantity
    FROM (SELECT * FROM orders WHERE o_orderkey % 7 = 0) o
    LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 45) l
      ON o.o_orderkey = l.l_orderkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join where the right side is filtered so unmatched rows
    (NULL-padded) genuinely occur."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "o_orderkey", "o_totalprice", "l_linenumber", "l_quantity"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT a.k AS k_a, a.cnt_a, b.k AS k_b, b.cnt_b
    FROM (SELECT o_custkey AS k, COUNT(*) AS cnt_a FROM orders
          WHERE o_orderstatus = 'O' GROUP BY o_custkey) a
    FULL JOIN (SELECT o_custkey AS k, COUNT(*) AS cnt_b FROM orders
               WHERE o_orderstatus = 'F' GROUP BY o_custkey) b
      ON a.k = b.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join on partially-overlapping key sets."""
    o = load(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_a"))
    )
    b = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_b"))
    )
    return a.join(b, a.k == b.k, "full").select(
        a.k.alias("k_a"), "cnt_a", b.k.alias("k_b"), "cnt_b"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one urgent order (left semi: no row
    duplication, right side only probed)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'P')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no pending ('P') orders (reference analog: uncited
    patents). The right side is filtered so the anti join is non-trivial:
    some customers match, some don't."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_theta_range",
    oracle="""
    SELECT a.p_partkey AS small_part, b.p_partkey AS big_part,
           a.p_brand, b.p_size - a.p_size AS size_gap
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size < b.p_size
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join blocked by brand: planner gets an equi key (brand) to
    hash/shuffle on, the `<` stays a join-condition filter — the pattern
    that keeps theta joins sub-quadratic at scale."""
    # fan the probe side out of the single input split: part broadcasts,
    # so the per-pair fan-out otherwise runs on ONE task (guide §2.5)
    a = (
        load(spark, sf_dir, "part")
        .repartition(spark.sparkContext.defaultParallelism)
        .alias("a")
    )
    b = load(spark, sf_dir, "part").alias("b")
    return a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") < F.col("b.p_size")),
    ).select(
        F.col("a.p_partkey").alias("small_part"),
        F.col("b.p_partkey").alias("big_part"),
        F.col("a.p_brand").alias("p_brand"),
        (F.col("b.p_size") - F.col("a.p_size")).alias("size_gap"),
    )


@query(
    "join_interval",
    oracle="""
    SELECT e1.event_id AS eid_a, e2.event_id AS eid_b, e1.user_id
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event pairs within a 5-minute forward window per user (interval
    join; user_id is the equi blocking key)."""
    # fan the probe side's per-pair window filtering out of the single
    # events split (guide §2.5); keyed so a merge join needs no extra
    # exchange
    e1 = (
        load(spark, sf_dir, "events")
        .repartition(spark.sparkContext.defaultParallelism, "user_id")
        .alias("e1")
    )
    e2 = load(spark, sf_dir, "events").alias("e2")
    return e1.join(
        e2,
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.ts") > F.col("e1.ts"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 5 MINUTE")),
    ).select(
        F.col("e1.event_id").alias("eid_a"),
        F.col("e2.event_id").alias("eid_b"),
        F.col("e1.user_id").alias("user_id"),
    )


@query(
    "join_asof",
    oracle="""
    SELECT purchase_id, user_id, prior_click_id, prior_click_ts
    FROM (
      SELECT p.event_id AS purchase_id, p.user_id,
             c.event_id AS prior_click_id, c.ts AS prior_click_ts,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id AND c.ts <= p.ts
    ) WHERE rn = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase, the latest click at-or-before it by
    the same user.

    Implemented with the scalable union-sort idiom, not a range join: tag
    both sides, sort within user by (ts, tag, event_id), and carry the
    last click forward with ``last(..., ignorenulls)``. One shuffle,
    O(n log n) — survives 100× scale-up where the naive range join's
    per-user quadratic blowup would not. (The oracle states the same
    semantics as the obvious quadratic SQL.)
    """
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    return asof_last_at_or_before(clicks, purchases)


def asof_last_at_or_before(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Core as-of kernel (property-tested directly in tests): for each
    purchase row, the latest click row of the same user with
    click.ts <= purchase.ts; ties on ts broken by max event_id. Both
    inputs need columns (user_id, ts, event_id)."""
    from pyspark.sql.window import Window

    # tag=0 sorts clicks before purchases at equal ts -> "at-or-before" is
    # inclusive; event_id tiebreak keeps the carried click deterministic.
    tagged = clicks.select(
        "user_id", "ts", "event_id", F.lit(0).alias("tag")
    ).unionByName(purchases.select("user_id", "ts", "event_id", F.lit(1).alias("tag")))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "prior_click_id",
        F.last(F.when(F.col("tag") == 0, F.col("event_id")), ignorenulls=True).over(w),
    ).withColumn(
        "prior_click_ts",
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return (
        carried.filter((F.col("tag") == 1) & F.col("prior_click_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "prior_click_id",
            "prior_click_ts",
        )
    )


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small dimension cross product (5 × 25)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_self_2hop",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    """,
)
def join_self_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence self-join (the citation-graph 2-hop pattern): parts
    appearing in the same order, deduped by key ordering, weighted by
    co-occurrence count. Also the edge-builder for §2.9 graph ops."""
    a = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").alias("a")
    b = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --- scale-technique exhibits: bucketing and salting ---------------------

_BUCKET_SCRATCH = "/dev/shm/ips_bucketed" if __import__("os").path.isdir(
    "/dev/shm"
) else __import__("tempfile").gettempdir() + "/ips_bucketed"


@query(
    "join_bucketed",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice')} AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) fact-fact join: both sides are written
    bucketed+sorted by the join key (8 buckets here; O(cluster cores) in
    production), then joined bucket-to-bucket — the scan feeds a
    sort-merge join with NO Exchange on either side (gated in
    test_plans.py). This is the pre-shuffle pattern that amortizes the
    big-join shuffle across every downstream query at 100 TB: pay the
    partitioning once at ingest, never again per query."""
    import os

    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    names = {}
    # Ingest writes only the query-relevant projection — a bucketed
    # materialized view, not a full-table copy (a production ingest would
    # bucket the full table once; the join-plan exhibit is identical).
    proj = {
        "lineitem": ["l_orderkey", "l_extendedprice"],
        "orders": ["o_orderkey", "o_orderpriority"],
    }
    for tbl, join_key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        tname = f"ips_b_{key}_{tbl}"
        path = os.path.join(_BUCKET_SCRATCH, key, tbl)
        if not spark.catalog.tableExists(tname):
            (
                load(spark, sf_dir, tbl)
                .select(*proj[tbl])
                # pre-shuffle into the bucket layout (same Murmur3 hash
                # partitioning the bucketed write expects) so each write
                # task emits exactly one sorted bucket file
                .repartition(8, F.col(join_key))
                .write.bucketBy(8, join_key)
                .sortBy(join_key)
                .option("path", path)
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(tname)
            )
        names[tbl] = tname
    li = spark.table(names["lineitem"])
    o = spark.table(names["orders"])
    # merge hint: at test SF the planner would broadcast the small side;
    # the point of the exhibit is the bucket-to-bucket sort-merge join
    # (zero Exchange under the join), which is the plan a fact-fact join
    # gets at 100 TB where neither side broadcasts.
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice")).alias("total_price"),
        )
    )


_N_SALTS = 8


@query(
    "join_skew_salted",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS hot_key, value
      FROM events
    ),
    d AS (
      SELECT DISTINCT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS hot_key
      FROM events
    ),
    dim AS (SELECT hot_key, 'grp_' || CAST(hot_key % 5 AS VARCHAR) AS grp FROM d)
    SELECT dim.grp, COUNT(*) AS n_events,
           CAST(SUM(CAST(f.value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM f JOIN dim ON f.hot_key = dim.hot_key
    GROUP BY dim.grp
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join by key salting: half the fact rows collapse
    onto one hot key (deterministic synthetic skew), which would pin a
    single reducer in a plain shuffled join. The fact side salts the key
    with a deterministic sub-key (event_id % 8 — never rand(), SURVEY
    §5); the dim side replicates each row across all 8 salts; the join
    runs on (key, salt) so the hot key spreads over 8 reducers. Result
    is salt-invariant — the oracle is the plain unsalted join. At scale
    this is the portable fallback where AQE skew-splitting can't reach
    (grouped state, streaming joins); NSALT scales with observed skew."""
    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("hot_key"),
        "value",
        (F.col("event_id") % _N_SALTS).alias("salt"),
    )
    dim = (
        ev.select("hot_key")
        .distinct()
        .select(
            "hot_key",
            F.concat(F.lit("grp_"), (F.col("hot_key") % 5).cast("string")).alias(
                "grp"
            ),
        )
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALTS)])))
    )
    return (
        ev.join(dim, ["hot_key", "salt"])
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


_AQE_SKEW_CONFS = {
    # the production-default path: let AQE detect and split the hot
    # partition at runtime. Thresholds are lowered so the split ALSO
    # triggers at test scale (defaults are 256 MB / factor 5 — sized
    # for real clusters, where these overrides are unnecessary).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    # keep both planners honest: the dim side is tiny, and a broadcast
    # join would dissolve the exhibit (no shuffle, nothing to skew)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _skew_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unsalted hot-key join (fact: half the events collapse onto
    key 0; dim: distinct keys → grp label), sort-merge hinted so the
    skew exhibit survives planning. Shared by join_skew_aqe and its
    executed-plan gate."""
    ev = (
        load(spark, sf_dir, "events")
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit(0))
            .otherwise(F.col("user_id"))
            .alias("hot_key"),
            "value",
        )
        # AQE splits a skewed REDUCE partition by regrouping its
        # MAP-output blocks — with a single map task (this fact ships
        # as one small parquet split locally) the hot partition is one
        # indivisible block and the rule can never fire. Real fact
        # tables arrive in hundreds of splits; emulate that map-side
        # parallelism explicitly so the exhibit is faithful.
        .repartition(32)
    )
    dim = (
        ev.select("hot_key")
        .distinct()
        .select(
            "hot_key",
            F.concat(
                F.lit("grp_"), (F.col("hot_key") % 5).cast("string")
            ).alias("grp"),
        )
        # materialize the dim: OptimizeSkewedJoin pattern-matches
        # SMJ(Sort(ShuffleRead), Sort(ShuffleRead)) — an aggregate
        # sitting between the dim's shuffle read and its sort defeats
        # the rule, so the dim build must complete before the join
        # (which is also how a real dim table arrives: as its own scan)
        .localCheckpoint()
    )
    return ev.join(dim.hint("merge"), "hot_key")


@query(
    "join_skew_aqe",
    # same unsalted-join semantics as join_skew_salted: the oracle is
    # the plain hot-key join + rollup (skew handling is physical-only)
    oracle="""
    WITH f AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS hot_key, value
      FROM events
    ),
    d AS (
      SELECT DISTINCT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS hot_key
      FROM events
    ),
    dim AS (SELECT hot_key, 'grp_' || CAST(hot_key % 5 AS VARCHAR) AS grp FROM d)
    SELECT dim.grp, COUNT(*) AS n_events,
           CAST(SUM(CAST(f.value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM f JOIN dim ON f.hot_key = dim.hot_key
    GROUP BY dim.grp
    """,
)
def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-split join — the production-DEFAULT counterpart
    to join_skew_salted's manual salting: the same deterministic hot key
    (half the fact rows collapse onto key 0) goes through a PLAIN
    sort-merge join and `spark.sql.adaptive.skewJoin` splits the
    oversized shuffle partition at runtime, replicating the matching dim
    rows across the splits. No query rewrite, no salt column — this is
    what a 1000-executor cluster runs when the skew is discovered at
    execution time rather than known up front (salting remains the
    portable fallback where AQE can't reach: grouped state, streaming
    joins). The join is executed EAGERLY (localCheckpoint) under
    temporarily-lowered skew thresholds so the split provably fires at
    test scale; the session confs are restored after (runtime-config
    pattern, not build-time — AQE reads them at execution).

    Plan gate: tests/test_plans.py asserts the executed plan carries the
    `skew=true` sort-merge marker and that no broadcast join swallowed
    the exhibit."""
    with conf_scope(spark, _AQE_SKEW_CONFS):
        # materialize the JOIN under the skew confs (the rollup after it
        # re-shuffles on grp anyway, so splitting the join partition is
        # legal and AQE takes it)
        joined = _skew_join_frame(spark, sf_dir).localCheckpoint()
    return joined.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(22,6)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "join_range_bucketed",
    oracle="""
    SELECT e1.event_id AS eid_a, e2.event_id AS eid_b, e1.user_id,
           CAST((epoch_us(e2.ts) - epoch_us(e1.ts)) // 1000000 AS BIGINT) AS gap_sec
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_interval's scale path: the same 5-minute forward-window pair
    semantics, computed through TIME-BUCKETED candidates instead of a
    pure theta condition. Each left row fans out to its own 5-minute
    bucket and the next one; the right side sits in its bucket; the join
    key is the composite (user_id, bucket) EQUI key, and the exact range
    predicate filters candidates afterwards. A true pair's right bucket
    is always the left's bucket or the one after, so every pair is found
    exactly once — no dedup needed.

    Why it matters at 100 TB: the planner hashes on (user, bucket), so
    per-task work is bounded by bucket occupancy even when one user has
    millions of events over months (where join_interval's per-user
    blocking alone degrades to that user's quadratic). Candidate fan-out
    is exactly 2x rows, independent of data skew in time."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
    )
    bucket_us = 300 * 1000 * 1000  # 5 minutes, matches the window width
    left = e.select(
        F.col("user_id"),
        F.col("event_id").alias("eid_a"),
        F.col("us").alias("us_a"),
        # integer div, NOT float division + cast: a float quotient one ulp
        # below an integer boundary would truncate into the wrong bucket
        F.explode(
            F.array(
                F.expr(f"us div {bucket_us}"),
                F.expr(f"us div {bucket_us} + 1"),
            )
        ).alias("bkt"),
    )
    right = e.select(
        F.col("user_id").alias("user_r"),
        F.col("event_id").alias("eid_b"),
        F.col("us").alias("us_b"),
        F.expr(f"us div {bucket_us}").alias("bkt_r"),
    )
    return (
        left.join(
            right,
            (F.col("user_id") == F.col("user_r")) & (F.col("bkt") == F.col("bkt_r")),
        )
        .filter(
            (F.col("us_b") > F.col("us_a"))
            & (F.col("us_b") <= F.col("us_a") + bucket_us)
        )
        .select(
            "eid_a",
            "eid_b",
            "user_id",
            F.expr("(us_b - us_a) div 1000000").alias("gap_sec"),
        )
    )


@query(
    "join_shuffle_hash",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE_HASH join hint: when the smaller side exceeds the
    broadcast threshold but one partition of it still fits in executor
    memory, a shuffled hash join beats sort-merge — it skips BOTH sort
    passes (the dominant cost for large-but-hashable sides). The hint
    pins the physical strategy (plan-gated: ShuffledHashJoin, no sort);
    at 100 TB this is the middle tier of the join-strategy ladder
    broadcast < shuffle-hash < sort-merge, and choosing it per join is
    exactly the knob AQE cannot always infer from stats alone."""
    c = load(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(22,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "join_null_safe",
    oracle="""
    WITH o AS (SELECT o_orderkey,
                      NULLIF(substr(o_orderpriority, 1, 1), '3') AS pri FROM orders),
    p AS (SELECT DISTINCT NULLIF(CAST(p_size % 5 + 1 AS VARCHAR), '3') AS pri FROM part)
    SELECT COALESCE(o.pri, 'NULL') AS pri_key, COUNT(*) AS n_orders
    FROM o JOIN p ON o.pri IS NOT DISTINCT FROM p.pri
    GROUP BY 1
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): ordinary
    equi-joins silently DROP null keys (NULL = NULL is unknown), which
    corrupts dimension joins whenever the key is legitimately absent —
    a classic silent-wrong-answer at any scale. `eqNullSafe` keeps the
    null bucket as a real join group while still planning as a hash
    join on the coalesced key (no nested-loop fallback). The synthetic
    NULLIF keys guarantee the null group is populated so the contract
    is hash-checked, not vacuous."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("NULLIF(substring(o_orderpriority, 1, 1), '3')").alias("pri"),
    )
    p = (
        load(spark, sf_dir, "part")
        .select(F.expr("NULLIF(CAST(p_size % 5 + 1 AS STRING), '3')").alias("pri_p"))
        .distinct()
    )
    return (
        o.join(F.broadcast(p), o.pri.eqNullSafe(p.pri_p))
        .groupBy(F.coalesce(F.col("pri"), F.lit("NULL")).alias("pri_key"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "join_star_schema",
    oracle="""
    SELECT r_name AS region, n_name AS nation,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY r_name, n_name
    """,
)
def join_star_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped star join: the fact table joined through a full
    dimension chain (orders → customer → nation → region) with a
    selective dim predicate. Declared as five plain joins — Catalyst
    orders them, broadcasts every dimension (nation/region are
    BROADCAST_DIMS; customer and the filtered orders fall under the
    broadcast threshold at this sf, and AQE converts at runtime on a
    cluster), so the fact table is scanned once and never shuffled for
    any of the four hops. This is THE star-schema pattern 100 TB BI
    queries live on; revenue in decimal-exact money units."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(22,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@query(
    "join_scd2_asof",
    # Point-in-time dimension lookup against an SCD2 history: each order
    # joins the customer version VALID AT its order date (valid_from <=
    # d < valid_to, open-ended current row). The versioned dim derives
    # deterministically: custkey%10=0 keys change balance (+100) on
    # 1998-01-01, everyone else keeps one open version.
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_acctbal AS bal,
             DATE '1990-01-01' AS valid_from,
             CASE WHEN c_custkey % 10 = 0 THEN DATE '1998-01-01' END AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, c_acctbal + 100, DATE '1998-01-01', NULL
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT o.o_orderkey, o.o_custkey,
           CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS order_date,
           d.bal AS acctbal_asof,
           d.valid_to IS NULL AS from_current_version
    FROM orders o JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND CAST(o.o_orderdate AS DATE) >= d.valid_from
     AND (d.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < d.valid_to)
    WHERE o.o_custkey % 10 = 0
    """,
)
def join_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF lookup against SCD2 history — the query side of sink_scd2:
    'what was this customer's balance WHEN the order was placed', the
    backtest-correct temporal join every revenue-restatement audit and
    feature-pipeline (no leakage from future versions) depends on.

    Scale shape: an equi-join on the dimension key carries the validity
    range as a residual predicate — per key at most |versions| rows fan
    out before the filter keeps exactly one, so cost is the key join,
    never an interval cross product; Catalyst broadcasts the versioned
    dim while it fits (dims with few versions stay dim-shaped). The fact
    filter (changed keys only) pushes to the orders scan."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    dim = (
        c.select(
            "c_custkey",
            F.col("c_acctbal").alias("bal"),
            F.lit("1990-01-01").cast("date").alias("valid_from"),
            F.when(
                F.col("c_custkey") % 10 == 0,
                F.lit("1998-01-01").cast("date"),
            ).alias("valid_to"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 10 == 0).select(
                "c_custkey",
                (F.col("c_acctbal") + 100).alias("bal"),
                F.lit("1998-01-01").cast("date").alias("valid_from"),
                F.lit(None).cast("date").alias("valid_to"),
            )
        )
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("od"),
        )
    )
    return (
        o.join(
            broadcast(dim),
            (o.o_custkey == dim.c_custkey)
            & (F.col("od") >= dim.valid_from)
            & (dim.valid_to.isNull() | (F.col("od") < dim.valid_to)),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("od").cast("string").alias("order_date"),
            F.col("bal").alias("acctbal_asof"),
            F.col("valid_to").isNull().alias("from_current_version"),
        )
    )


_GEO_LAT_CELL = 50_000  # 5 degrees, in 1e-4-degree units
_GEO_LON_CELL = 100_000  # 10 degrees, in 1e-4-degree units
_GEO_R2 = 45_000**2  # 4.5 degrees (≈500 km N-S) squared, in units²


def _geo_h(prefix: str, key: str = "c_custkey") -> F.Column:
    """Synthetic coordinate seed of the geo queries: the first 8 hex
    digits of md5(prefix || key) as a bigint, as each oracle spells out."""
    return hex_int(F.md5(F.concat(F.lit(prefix), F.col(key).cast("string"))), 8)


def _approx_km(d2q: F.Column) -> F.Column:
    """``ROUND(SQRT(d2q) * 0.00555225, 9)`` as DuckDB computes it: round
    ``x * 1e9`` to an integer, then divide. Spark's ``round(x, 9)``
    rounds x's shortest decimal string half-up instead, which splits
    from DuckDB where ``x * 1e9`` lands exactly on a half (439.39270552749997:
    Spark 439.392705527, DuckDB 439.392705528)."""
    x = F.sqrt(d2q.cast("double")) * 0.00555225
    return (F.round(x * 1e9, 0) / 1e9).alias("approx_km")


@query(
    "geo_grid_join",
    # Spatial neighbor join via grid bucketing (the Sedona/PostGIS
    # partitioned spatial-join shape): deterministic synthetic
    # coordinates per customer (md5-derived, lat clamped to ±60°, in
    # EXACT 1e-4-degree integer units), cells of 5°x10°, candidates from
    # the 3x3 neighbor-cell equi-join, verified with the exact integer
    # equirectangular metric d² = Δlat² + (Δlon/2)² <= R² (fixed-scale
    # cos φ = 0.5; a production system swaps in haversine — the grid
    # join SHAPE is what scales). Cell math guarantees completeness:
    # within ±60°, any pair within R has Δlat < 1 lat-cell and
    # Δlon < 1 lon-cell, so it lands in adjacent cells.
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('lat' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1200001 - 600000 AS lat,
             CAST(('0x' || substr(md5('lon' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 3600001 - 1800000 AS lon
      FROM customer),
    cells AS (
      SELECT id, lat, lon,
             CAST(FLOOR(lat * 1.0 / {_GEO_LAT_CELL}) AS BIGINT) AS cy,
             CAST(FLOOR(lon * 1.0 / {_GEO_LON_CELL}) AS BIGINT) AS cx
      FROM pts),
    probe AS (
      SELECT id, lat, lon, cy + dy.d AS cy, cx + dx.d AS cx
      FROM cells
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             4::BIGINT * (a.lat - b.lat) * (a.lat - b.lat)
               + (a.lon - b.lon) * (a.lon - b.lon) AS d2q
      FROM probe a JOIN cells b
        ON a.cy = b.cy AND a.cx = b.cx AND a.id < b.id)
    SELECT id_a, id_b, CAST(d2q AS BIGINT) AS d2q_units,
           CAST(ROUND(SQRT(CAST(d2q AS DOUBLE)) * 0.00555225, 9) AS DOUBLE)
             AS approx_km
    FROM pairs WHERE d2q <= 4::BIGINT * {_GEO_R2}
    """,
)
def geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial neighbor join — 'which customers are within ~500 km of
    each other' — via grid bucketing, the shape every distributed
    spatial engine (Sedona, PostGIS partitioning) uses: points land in
    5°x10° cells, each point probes its 3x3 neighborhood, candidates
    come from a cell equi-join (NEVER all-pairs), and the metric
    verifies exactly. Coordinates are md5-derived synthetic integers
    (1e-4-degree units, lat within ±60°) and the verify metric is the
    exact-integer equirectangular d² — swap in real columns and a
    haversine expression without touching the join topology.

    Scale shape: the probe side fans out exactly 9x; the join is an
    equi-join on (cy, cx); per-task work is bounded by cell occupancy
    (skewed cells get the LSH salt posture). Completeness: within ±60°
    any pair inside R differs by < 1 cell in each axis, so adjacency
    suffices — the argument a production geohash join makes per zoom
    level. The metric is cross-multiplied (4·Δlat² + Δlon²) so it stays
    pure integer arithmetic — no division whose floor/truncate
    semantics could differ between engines."""
    c = load(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (_geo_h("lat") % 1200001 - 600000).alias("lat"),
        (_geo_h("lon") % 3600001 - 1800000).alias("lon"),
    )
    cells = pts.select(
        "id",
        "lat",
        "lon",
        F.floor(F.col("lat") * 1.0 / _GEO_LAT_CELL).cast("bigint").alias("cy"),
        F.floor(F.col("lon") * 1.0 / _GEO_LON_CELL).cast("bigint").alias("cx"),
    ).repartition(spark.sparkContext.defaultParallelism)
    probe = cells.select(
        "id",
        "lat",
        "lon",
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
        "cy",
        "cx",
    ).select(
        "id",
        "lat",
        "lon",
        (F.col("cy") + F.col("dy")).alias("cy"),
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dx"),
        "cx",
    ).select(
        "id", "lat", "lon", "cy", (F.col("cx") + F.col("dx")).alias("cx")
    )
    b = cells.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        "cy",
        "cx",
    )
    dlat = F.col("lat") - F.col("lat_b")
    pairs = (
        probe.alias("p").join(
            b.alias("q"),
            (F.col("p.cy") == F.col("q.cy"))
            & (F.col("p.cx") == F.col("q.cx"))
            & (F.col("p.id") < F.col("q.id_b")),
        )
        .select(
            F.col("id").alias("id_a"),
            "id_b",
            (
                4 * dlat * dlat
                + (F.col("lon") - F.col("lon_b"))
                * (F.col("lon") - F.col("lon_b"))
            ).alias("d2q"),
        )
    )
    return pairs.filter(F.col("d2q") <= 4 * _GEO_R2).select(
        "id_a",
        "id_b",
        F.col("d2q").cast("bigint").alias("d2q_units"),
        _approx_km(F.col("d2q")),
    )


# Test polygons in the same 1e-4-degree integer space as geo_grid_join:
# a triangle, a convex quad, and a non-convex chevron. Closed rings,
# counter-clockwise; vertex pairs form edges (v[i], v[i+1]).
_GEO_POLYGONS = {
    1: [(-200000, -400000), (200000, -100000), (-250000, 150000)],
    2: [(100000, 200000), (450000, 250000), (500000, 500000),
        (50000, 450000)],
    3: [(-1700000, -580000), (-1450000, -340000), (-1200000, -580000),
        (-1450000, -460000)],
}


def _geo_edges_sql() -> str:
    rows = []
    for pid, ring in _GEO_POLYGONS.items():
        for i in range(len(ring)):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % len(ring)]
            rows.append(f"({pid}, {x1}, {y1}, {x2}, {y2})")
    return ", ".join(rows)


@query(
    "geo_point_in_polygon",
    # Point-in-polygon by crossing-number ray casting, ALL-INTEGER: an
    # upward ray from (px, py) crosses edge (p1, p2) iff the edge spans
    # py vertically AND the point lies strictly left of the edge at
    # height py — the left test is the cross product
    # (x2-x1)(py-y1) - (y2-y1)(px-x1), sign-flipped when the edge
    # descends, compared > 0: no division, no floats, so the parity is
    # exact in both engines. Odd crossings = inside.
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('lon' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 3600001 - 1800000 AS px,
             CAST(('0x' || substr(md5('lat' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1200001 - 600000 AS py
      FROM customer),
    edges(pid, x1, y1, x2, y2) AS (VALUES {_geo_edges_sql()}),
    hits AS (
      SELECT p.id, e.pid,
             CASE WHEN (e.y1 > p.py) != (e.y2 > p.py)
                   AND CASE WHEN e.y2 > e.y1
                        THEN (e.x2 - e.x1) * (p.py - e.y1)
                             - (e.y2 - e.y1) * (p.px - e.x1) > 0
                        ELSE (e.x2 - e.x1) * (p.py - e.y1)
                             - (e.y2 - e.y1) * (p.px - e.x1) < 0
                       END
                  THEN 1 ELSE 0 END AS crossed
      FROM pts p CROSS JOIN edges e),
    par AS (
      SELECT id, pid, SUM(crossed) % 2 = 1 AS inside
      FROM hits GROUP BY id, pid)
    SELECT pid AS polygon_id,
           CAST(SUM(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inside,
           CAST(ROUND(SUM(CASE WHEN inside THEN 1 ELSE 0 END) * 1.0
                      / COUNT(DISTINCT id), 9) AS DOUBLE) AS share
    FROM par GROUP BY pid
    """,
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment — the geofencing / region-rollup
    primitive beside geo_grid_join: how many customers fall inside each
    region polygon (triangle, convex quad, non-convex chevron — the
    chevron proves the parity rule handles reflex vertices). Crossing-
    number ray casting with PURE integer cross products — the left-of-
    edge test cross-multiplies instead of dividing, so containment is
    exact and engine-independent (the same robustness trick
    computational-geometry kernels use to dodge float orientation
    errors).

    Scale shape: the polygon edge table (Σ|ring| rows — KBs for any
    real region set) broadcasts; each point evaluates its edges in one
    narrow pass and a (point, polygon) parity agg + region rollup
    follow — points never shuffle except for the ≤|polygons| rollup.
    Production polygon sets partition edges by the geo_grid_join cells
    first (R-tree-lite) so each point only meets nearby edges."""
    c = load(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (_geo_h("lon") % 3600001 - 1800000).alias("px"),
        (_geo_h("lat") % 1200001 - 600000).alias("py"),
    )
    edge_rows = [
        (pid, *ring[i], *ring[(i + 1) % len(ring)])
        for pid, ring in _GEO_POLYGONS.items()
        for i in range(len(ring))
    ]
    edges = spark.createDataFrame(
        edge_rows, "pid int, x1 long, y1 long, x2 long, y2 long"
    )
    cross = (F.col("x2") - F.col("x1")) * (F.col("py") - F.col("y1")) - (
        F.col("y2") - F.col("y1")
    ) * (F.col("px") - F.col("x1"))
    spans = (F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))
    left = F.when(F.col("y2") > F.col("y1"), cross > 0).otherwise(cross < 0)
    hits = pts.crossJoin(F.broadcast(edges)).select(
        "id",
        "pid",
        F.when(spans & left, 1).otherwise(0).alias("crossed"),
    )
    par = hits.groupBy("id", "pid").agg(
        (F.sum("crossed") % 2 == 1).alias("inside")
    )
    return par.groupBy(F.col("pid").alias("polygon_id")).agg(
        F.sum(F.when(F.col("inside"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_inside"),
        F.round(
            F.sum(F.when(F.col("inside"), 1).otherwise(0))
            / F.count_distinct("id"),
            9,
        )
        .cast("double")
        .alias("share"),
    )


@query(
    "geo_cell_density",
    # Spatial density heatmap: customers per 5°x10° cell plus the
    # 3x3-neighborhood smoothed count (the KDE-lite every density map
    # ships). Smoothing reuses the geo_grid_join probe trick in the
    # OPPOSITE direction: each occupied cell SCATTERS its count to its
    # 9 neighbors and a hash agg gathers — grid-sized work, the fact is
    # touched once. All integer.
    oracle=f"""
    WITH pts AS (
      SELECT CAST(FLOOR((CAST(('0x' || substr(md5('lat' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1200001 - 600000) * 1.0 / {_GEO_LAT_CELL}) AS BIGINT) AS cy,
             CAST(FLOOR((CAST(('0x' || substr(md5('lon' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 3600001 - 1800000) * 1.0 / {_GEO_LON_CELL}) AS BIGINT) AS cx
      FROM customer),
    cells AS (
      SELECT cy, cx, COUNT(*) AS n FROM pts GROUP BY cy, cx),
    scat AS (
      SELECT c.cy + dy.d AS cy, c.cx + dx.d AS cx, c.n
      FROM cells c
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx),
    sm AS (
      SELECT cy, cx, CAST(SUM(n) AS BIGINT) AS smoothed
      FROM scat GROUP BY cy, cx)
    SELECT c.cy, c.cx, CAST(c.n AS BIGINT) AS n, sm.smoothed
    FROM cells c JOIN sm ON c.cy = sm.cy AND c.cx = sm.cx
    """,
)
def geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density heatmap over the customer points: exact count
    per 5°x10° grid cell plus the 3x3-neighborhood smoothed count (the
    box-kernel KDE-lite behind every density tile layer). The smoothing
    inverts geo_grid_join's probe: occupied CELLS scatter their counts
    to their 9 neighbors (grid-sized fan-out, not point-sized) and a
    hash agg gathers — so the fact contributes one aggregation pass and
    everything after runs on the ≤|occupied cells| grid.

    Scale shape: one map-side-combinable hash agg over the fact, then
    9× fan-out + agg + self-join on the tiny cell grid. At any corpus
    size the smoothing cost is grid-bound; finer kernels widen the
    scatter stencil, nothing else."""
    c = load(spark, sf_dir, "customer")
    pts = c.select(
        F.floor((_geo_h("lat") % 1200001 - 600000) * 1.0 / _GEO_LAT_CELL)
        .cast("bigint")
        .alias("cy"),
        F.floor((_geo_h("lon") % 3600001 - 1800000) * 1.0 / _GEO_LON_CELL)
        .cast("bigint")
        .alias("cx"),
    )
    # grid-sized; checkpoint so the fact aggregates ONCE for both the
    # scatter branch and the final join (plan-gated)
    cells = (
        pts.groupBy("cy", "cx")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    d3 = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    scat = (
        cells.select("cy", "cx", "n", F.explode(d3).alias("dy"))
        .select(
            (F.col("cy") + F.col("dy")).alias("cy"),
            "cx",
            "n",
            F.explode(d3).alias("dx"),
        )
        .select("cy", (F.col("cx") + F.col("dx")).alias("cx"), "n")
    )
    sm = scat.groupBy("cy", "cx").agg(
        F.sum("n").cast("bigint").alias("smoothed")
    )
    return cells.join(sm, ["cy", "cx"]).select(
        "cy", "cx", F.col("n").cast("bigint").alias("n"), "smoothed"
    )


_GEO_KNN_K = 5


@query(
    "geo_knn",
    # Exact k-nearest-neighbors: every supplier (probe) finds its 5
    # closest customers under the integer equirectangular metric
    # d2q = 4*dlat^2 + dlon^2 (exact int64, no division). Probes and
    # items share the md5-derived coordinate space with geo_grid_join.
    # Ties break on the smaller customer id; the oracle ranks in one
    # window (it need not be scale-shaped).
    oracle="""
    WITH items AS (
      SELECT c_custkey AS item_id,
             CAST(('0x' || substr(md5('lat' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1200001 - 600000 AS lat,
             CAST(('0x' || substr(md5('lon' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 3600001 - 1800000 AS lon
      FROM customer),
    probes AS (
      SELECT s_suppkey AS probe_id,
             CAST(('0x' || substr(md5('plat' || CAST(s_suppkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1200001 - 600000 AS plat,
             CAST(('0x' || substr(md5('plon' || CAST(s_suppkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 3600001 - 1800000 AS plon
      FROM supplier),
    dist AS (
      SELECT p.probe_id, i.item_id,
             4::BIGINT * (p.plat - i.lat) * (p.plat - i.lat)
               + (p.plon - i.lon) * (p.plon - i.lon) AS d2q
      FROM probes p CROSS JOIN items i),
    ranked AS (
      SELECT probe_id, item_id, d2q,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY d2q, item_id) AS rank
      FROM dist)
    SELECT probe_id, CAST(rank AS BIGINT) AS rank, item_id,
           CAST(d2q AS BIGINT) AS d2q_units,
           CAST(ROUND(SQRT(CAST(d2q AS DOUBLE)) * 0.00555225, 9) AS DOUBLE)
             AS approx_km
    FROM ranked WHERE rank <= 5
    """,
)
def geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor join — each supplier depot (probe) finds
    its 5 closest customers — computed the way exact spatial kNN must
    run at corpus scale: the bounded probe side ships ONCE to every
    worker (a Spark broadcast variable — the same memory ceiling as the
    former `F.broadcast(probes)` plan), and each item partition computes
    its distance matrix against all probes in vectorized NumPy inside
    one Arrow batch pass, emitting only its per-probe top-5 — the
    |probes|·|items| distance stream never materializes as rows
    anywhere. A tiny exact merge (≤ 5·partitions survivors per probe)
    finishes the refinement: a global top-5 row is necessarily a top-5
    row of its own partition, and the merge re-sorts with the identical
    (d2q, item_id) total order, so the answer is exactly the one-window
    sklearn shape. All arithmetic is int64 (the md5-derived coordinates
    come from Spark expressions; 4·dlat²+dlon² < 2⁴⁴ so no overflow,
    no floats until the reporting column).

    Measured at sf0.1/local[32] (r14): the r13 two-window cell
    refinement comparator-sorted the full 15M-row cross product twice —
    110 s of executor CPU, the single most CPU-expensive query in the
    suite and the standing "burst magnet" row; a JVM hash-aggregate
    top-k (collect_list + array_sort per bucket) was A/B'd and is WORSE
    (object-agg allocation: 75-115 s CPU, 12-14 s wall); this NumPy
    batch form is ~2 s CPU total (guide §4.2 — hand whole batches to
    vectorized native code; §8 — decide with small rows, never move the
    heavy stream).

    At 10⁹ items the plan is unchanged: one narrow shuffle of the bare
    item rows fans the scan (partition count = cluster parallelism; the
    per-task matrix is |partition|×|probes|, bounded by the split
    size), one Arrow pass, one survivor merge. Swap the metric for
    haversine and k for a radius guard without touching the topology."""
    import numpy as np
    import pandas as pd

    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")

    probes = s.select(
        F.col("s_suppkey").alias("probe_id"),
        (_geo_h("plat", "s_suppkey") % 1200001 - 600000).alias("plat"),
        (_geo_h("plon", "s_suppkey") % 3600001 - 1800000).alias("plon"),
    ).toPandas()
    bc = spark.sparkContext.broadcast(
        (
            probes["probe_id"].to_numpy(),
            probes["plat"].to_numpy(),
            probes["plon"].to_numpy(),
        )
    )
    k = _GEO_KNN_K

    def part_topk(batches):
        pid, plat, plon = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            # pre-sort items by id so a STABLE argsort on d2q breaks
            # ties by item_id asc — the exact (d2q, item_id) order
            pdf = pdf.sort_values("item_id")
            iid = pdf["item_id"].to_numpy()
            dlat = plat[:, None] - pdf["lat"].to_numpy()[None, :]
            dlon = plon[:, None] - pdf["lon"].to_numpy()[None, :]
            d2 = 4 * dlat * dlat + dlon * dlon  # int64 exact
            kk = min(k, d2.shape[1])
            top = np.argsort(d2, axis=1, kind="stable")[:, :kk]
            yield pd.DataFrame(
                {
                    "probe_id": np.repeat(pid, kk),
                    "d2q": np.take_along_axis(d2, top, axis=1).ravel(),
                    "item_id": iid[top.ravel()],
                }
            )

    items = c.select(
        F.col("c_custkey").alias("item_id"),
        (_geo_h("lat") % 1200001 - 600000).alias("lat"),
        (_geo_h("lon") % 3600001 - 1800000).alias("lon"),
    ).repartition(spark.sparkContext.defaultParallelism)
    part = items.mapInPandas(
        part_topk, "probe_id bigint, d2q bigint, item_id bigint"
    )
    # exact merge of the ≤ k·partitions survivors per probe: one narrow
    # exchange; array_sort on struct(d2q, item_id) is the same total
    # order, rank = position in the merged top-k.
    top = part.groupBy("probe_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("d2q").alias("d2q"),
                        F.col("item_id").alias("item_id"),
                    )
                )
            ),
            1,
            k,
        ).alias("top")
    )
    return top.select(
        "probe_id", F.posexplode("top").alias("pos", "t")
    ).select(
        "probe_id",
        (F.col("pos") + 1).cast("bigint").alias("rank"),
        F.col("t.item_id").alias("item_id"),
        F.col("t.d2q").cast("bigint").alias("d2q_units"),
        _approx_km(F.col("t.d2q")),
    )


_GEO_MINPTS = 4  # cells with >= this many points are "dense" (core)
_GEO_CELL_CAP = 10_000  # guard: the 5°x10° grid has <= 925 cells, ever


@query(
    "geo_cluster_cells",
    # Grid DBSCAN-lite: dense cells (>= 4 points in the shared 5°x10°
    # grid) are core; clusters are connected components of dense cells
    # under 8-neighborhood adjacency; points in sparse cells are noise
    # (cluster_id = -1). Cell ids pack as (cy+12)*1000 + (cx+18); the
    # component label is the MIN cell id, computed by a recursive
    # reachability closure in the oracle and a guarded driver-side
    # union-find in Spark — sound because the CELL GRAPH IS BOUNDED BY
    # THE FIXED GRID (<= 25 x 37 = 925 cells at any data size: lat cells
    # floor(±600000/50000) span -12..12, lon floor(±1800000/100000)
    # span -18..18), not by the data.
    oracle=f"""
    WITH RECURSIVE pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('lat' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1200001 - 600000 AS lat,
             CAST(('0x' || substr(md5('lon' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 3600001 - 1800000 AS lon
      FROM customer),
    cells AS (
      SELECT CAST(FLOOR(lat * 1.0 / {_GEO_LAT_CELL}) AS BIGINT) AS cy,
             CAST(FLOOR(lon * 1.0 / {_GEO_LON_CELL}) AS BIGINT) AS cx,
             COUNT(*) AS n
      FROM pts GROUP BY 1, 2),
    dense AS (
      SELECT (cy + 12) * 1000 + (cx + 18) AS cell, cy, cx, n
      FROM cells WHERE n >= {_GEO_MINPTS}),
    edges AS (
      SELECT a.cell AS src, b.cell AS dst
      FROM dense a JOIN dense b
        ON abs(a.cy - b.cy) <= 1 AND abs(a.cx - b.cx) <= 1
       AND a.cell <> b.cell),
    lbl(cell, l) AS (
      SELECT cell, cell FROM dense
      UNION
      SELECT e.dst, lbl.l FROM lbl JOIN edges e ON e.src = lbl.cell),
    comp AS (
      SELECT cell, CAST(MIN(l) AS BIGINT) AS cluster_id FROM lbl
      GROUP BY cell),
    clusters AS (
      SELECT comp.cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(SUM(d.n) AS BIGINT) AS n_points
      FROM comp JOIN dense d ON comp.cell = d.cell
      GROUP BY comp.cluster_id),
    noise AS (
      SELECT CAST(-1 AS BIGINT) AS cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_points
      FROM cells WHERE n < {_GEO_MINPTS})
    SELECT * FROM clusters UNION ALL SELECT * FROM noise
    """,
)
def geo_cluster_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-based density clustering (DBSCAN-lite, the cell-level
    variant production spatial stacks run before any point-level
    refinement): cells of the shared 5°x10° grid holding ≥ 4 points are
    core; clusters are 8-neighborhood connected components of core
    cells labeled by their minimum packed cell id; points in sparse
    cells report as the noise row (cluster_id = −1).

    Scale shape: the POINT data contributes exactly one map-side-
    combinable hash agg (points → cell counts) and never shuffles
    again. The component computation runs on the CELL graph, which is
    bounded by the FIXED grid geometry (≤ 25×37 = 925 cells at this
    resolution, regardless of data size) — so the labels come from a
    guarded driver-side union-find (cap asserted; the same
    bounded-grid-collect pattern as seq_attribution_markov's guarded
    chain solve), broadcast back as literals. The oracle computes the
    identical components via a recursive reachability closure. At
    10⁹ points only the first agg grows."""
    c = load(spark, sf_dir, "customer")

    pts = c.select(
        (_geo_h("lat") % 1200001 - 600000).alias("lat"),
        (_geo_h("lon") % 3600001 - 1800000).alias("lon"),
    )
    cells = pts.groupBy(
        F.floor(F.col("lat") / _GEO_LAT_CELL).cast("bigint").alias("cy"),
        F.floor(F.col("lon") / _GEO_LON_CELL).cast("bigint").alias("cx"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cells = cells.localCheckpoint()  # feeds dense collect + noise agg
    dense_rows = (
        cells.filter(F.col("n") >= _GEO_MINPTS)
        .select(
            ((F.col("cy") + 12) * 1000 + (F.col("cx") + 18)).alias("cell"),
            "cy",
            "cx",
            "n",
        )
        .collect()
    )
    if len(dense_rows) > _GEO_CELL_CAP:  # loud even under python -O
        raise RuntimeError(
            f"geo_cluster_cells: fixed grid exceeded its bound "
            f"({len(dense_rows)} > {_GEO_CELL_CAP})"
        )
    # driver union-find on the geography-bounded cell graph
    parent = {r.cell: r.cell for r in dense_rows}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_pos = {(r.cy, r.cx): r.cell for r in dense_rows}
    for r in dense_rows:
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                nb = by_pos.get((r.cy + dy, r.cx + dx))
                if nb is not None and nb != r.cell:
                    ra, rb = find(r.cell), find(nb)
                    if ra != rb:
                        # union by min id keeps the label deterministic
                        lo, hi = min(ra, rb), max(ra, rb)
                        parent[hi] = lo
    agg: dict[int, list[int]] = {}
    for r in dense_rows:
        root = find(r.cell)
        cur = agg.setdefault(root, [0, 0])
        cur[0] += 1
        cur[1] += int(r.n)
    rows = [
        (int(cid), int(nc), int(np_)) for cid, (nc, np_) in agg.items()
    ]
    clusters = spark.createDataFrame(
        rows or [], "cluster_id bigint, n_cells bigint, n_points bigint"
    )
    noise = cells.filter(F.col("n") < _GEO_MINPTS).agg(
        F.lit(-1).cast("bigint").alias("cluster_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_points"),
    )
    return clusters.unionByName(noise)


_ASOF_TOL_US = 3600 * 1_000_000  # 1-hour staleness tolerance


@query(
    "join_asof_tolerance",
    # Tolerance-bounded as-of join (pandas merge_asof's `tolerance=`,
    # QuestDB/kdb ASOF ... WITHIN): the latest same-user click
    # at-or-before each purchase counts ONLY if it is at most 1 hour
    # stale; older matches null out. Gap arithmetic is exact integer
    # epoch-microseconds (the constant session-tz shift cancels in the
    # difference); the match decision is a pure integer comparison.
    oracle=f"""
    WITH m AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             c.event_id AS prior_click_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id AND c.ts <= p.ts)
    SELECT purchase_id, user_id,
           (prior_click_id IS NOT NULL AND gap_us <= {_ASOF_TOL_US})
             AS matched,
           CASE WHEN gap_us <= {_ASOF_TOL_US} THEN prior_click_id END
             AS prior_click_id,
           CASE WHEN gap_us <= {_ASOF_TOL_US} THEN gap_us // 1000000 END
             AS gap_seconds
    FROM m WHERE rn = 1 OR rn IS NULL
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance — pandas merge_asof's
    `tolerance=` / kdb's windowed asof, the variant production
    attribution actually runs (a click from last month should NOT get
    credit for today's purchase): the latest same-user click
    at-or-before each purchase matches only within 1 hour; staler
    matches null out but the purchase row survives (LEFT semantics,
    every purchase auditable).

    Built on the same union-sort asof kernel as join_asof (one
    user_id shuffle, O(n log n), no per-user quadratic range join);
    the tolerance is ONE exact integer microsecond comparison applied
    after the carry — the gap is a difference of epoch-us values, so
    the session-tz constant cancels and both engines compare identical
    integers."""
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    us = "unix_micros(CAST({} AS TIMESTAMP))"
    tagged = clicks.select(
        "user_id", "ts", "event_id", F.lit(0).alias("tag")
    ).unionByName(
        purchases.select("user_id", "ts", "event_id", F.lit(1).alias("tag"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "prior_click_id",
        F.last(
            F.when(F.col("tag") == 0, F.col("event_id")), ignorenulls=True
        ).over(w),
    ).withColumn(
        "prior_click_us",
        F.last(
            F.when(F.col("tag") == 0, F.expr(us.format("ts"))),
            ignorenulls=True,
        ).over(w),
    )
    gap = F.expr(us.format("ts")) - F.col("prior_click_us")
    within = F.col("prior_click_id").isNotNull() & (gap <= _ASOF_TOL_US)
    return carried.filter(F.col("tag") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        within.alias("matched"),
        F.when(within, F.col("prior_click_id")).alias("prior_click_id"),
        F.when(within, F.expr(f"({us.format('ts')} - prior_click_us) div 1000000"))
        .alias("gap_seconds"),
    )
