"""Graph operators over the co-purchase graph (SURVEY §2.9 — the
reference's analytical core: citation-network centrality, components,
neighborhoods [PK-M/H]).

Graph fixture (FIXTURES.md §5): undirected co-purchase graph — edge
(part_a, part_b) iff both appear in the same order at least MIN_SUPPORT
times; weight = co-occurrence count. Min-support pruning keeps the edge
set bounded and meaningful as the fact table scales (~3.7k edges at both
sf0.01 and sf0.1 — BASELINE.md risk item 3).

Architecture (Pregel-on-dataflow, PAPERS.md VLDB'14): iterative
algorithms are driver-side loops of join+aggregate with a
``localCheckpoint`` every round to truncate lineage. Loops that run to a
fixpoint take their halt values (changed labels, surviving edges) from
that checkpoint's own job via ``runtime.checkpoint`` — Pregelix's
in-plan halt test, not a separate ``count()`` pass. No GraphX (no
Python API) and no external jars — pure DataFrame ops.

Determinism (SURVEY §5): PageRank runs a FIXED 10 iterations with rank
state in exact int64 femto-units (RANK_SCALE) — every reduction is a
plain integer SUM, order-independent AND O(1) agg state per node (hub-
safe: no per-node contribution array); CC iterates to fixpoint in Spark
(propagation + pointer jumping — fixpoint is the same min-label-per-
component regardless of schedule) and is checked against a 16-round
unrolled propagation oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.stable import hex_int, round_dp
from ..registry import query
from ..runtime import checkpoint, shared
from ..session import conf_scope
from ..sources.tables import load

MIN_SUPPORT = 2
PAGERANK_ITERS = 10
# Femto-unit scale for quantized-integer rank/score state in the
# iterative ops (pagerank / ppr / hits). Contributions are floored to
# int64 units so every reduction is a plain integer SUM —
# order-independent and O(1) agg state per node (no collect_list fold;
# a power-law hub never materializes its in-neighbor list in memory).
RANK_SCALE = 10**15
# Nano-unit scale for betweenness dependency deltas (values can reach
# ~path-count magnitudes, so the quantum leaves 1e9 of headroom).
DELTA_SCALE = 10**9
DAMPING = 0.85
CC_MAX_ROUNDS = 16  # oracle unroll depth; fixpoint at 11 on driver data
KHOP_K = 3
SSSP_MAX_DEPTH = 6

# --- shared edge-builder (Spark + oracle CTE) ----------------------------

_EDGES_CTE = f"""
    WITH pairs AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SUPPORT}
    ),
    edges AS MATERIALIZED (
      SELECT pa AS src, pb AS dst, w FROM pairs
      UNION ALL
      SELECT pb AS src, pa AS dst, w FROM pairs
    )
"""


def _edge_partitions(spark: SparkSession, n_fact_rows: int) -> int:
    """Partition count for the materialized edge tables: scales with the
    fact-table size feeding the pair build (edges are a bounded multiple
    of orders) and is capped by cluster parallelism — never a hard-coded
    small constant (at 100x data, 4 partitions would serialize every
    iterative consumer onto 4 tasks)."""
    return max(4, min(
        2 * spark.sparkContext.defaultParallelism, n_fact_rows // 250_000
    ))


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected canonical edge list (pa < pb, weight = co-occurrence).

    Materialized once per (session, sf, source-stamp): the fact-table
    self-join that builds it dominates every graph query, and all seven
    share it — the graph-snapshot pattern (build the edge table once,
    traverse many times)."""

    def build() -> DataFrame:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        n_parts = _edge_partitions(spark, li.count())
        # Join-free pair generation: one shuffle groups parts per order,
        # then combinations enumerate in-row (per-order line counts are
        # bounded — ~7 in TPC-H-shaped data — so the in-row quadratic is
        # O(1) per order at any table size). Equivalent to the self-join
        # on (same order, pa < pb): entries with equal part keys are
        # excluded by the strict <, duplicates keep their multiplicity.
        # Pin the order-grouping shuffle width: its byte size is a few MB
        # (AQE coalesces the read to 3-4 tasks) but the stage it feeds is
        # compute-dense (in-row pair enumeration + the partial pair-count
        # agg), so a user repartition on the SAME key keeps it on all
        # cores without adding an exchange (guide §2.2/§2.5).
        parts = li.repartition(
            spark.sparkContext.defaultParallelism, "l_orderkey"
        ).groupBy("l_orderkey").agg(
            F.sort_array(F.collect_list("l_partkey")).alias("arr")
        )
        pair_structs = F.flatten(
            F.transform(
                F.col("arr"),
                lambda x, i: F.transform(
                    F.slice(F.col("arr"), i + 2, F.size(F.col("arr"))),
                    lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                ),
            )
        )
        return (
            parts.select(F.explode(pair_structs).alias("p"))
            .filter(F.col("p.pa") < F.col("p.pb"))
            .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
            .agg(F.count(F.lit(1)).alias("w"))
            .filter(F.col("w") >= MIN_SUPPORT)
            # repartition AFTER the agg (a small shuffle of the pruned
            # edge list) — a coalesce here would fold into the shuffle
            # read and run the pair aggregation itself on few reducers.
            .repartition(n_parts)
            .localCheckpoint()
        )

    return shared(spark, sf_dir, "lineitem", "graph_pairs", build)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge list (both directions of each undirected edge).

    Materialized once per (session, sf, source-stamp) via localCheckpoint
    and reused by every graph query — the edge build (fact-table
    self-join) dominates any single traversal, and all graph operators
    share it. Partition count mirrors the pair cache (scales with source
    size, capped by parallelism)."""

    def build() -> DataFrame:
        p = _pairs(spark, sf_dir)  # already checkpointed
        # Materialized too: iterative queries touch edges ~20 times per
        # run; a cached right-sized table beats re-unioning every round.
        return (
            p.select(F.col("pa").alias("src"), F.col("pb").alias("dst"), "w")
            .unionByName(
                p.select(F.col("pb").alias("src"), F.col("pa").alias("dst"), "w")
            )
            .coalesce(max(4, p.rdd.getNumPartitions()))
            .localCheckpoint()
        )

    return shared(spark, sf_dir, "lineitem", "graph_edges", build)


@query(
    "graph_build",
    oracle=_EDGES_CTE + "SELECT pa, pb, CAST(w AS BIGINT) AS w FROM pairs",
)
def graph_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the co-purchase edge list (citation-edge-table analog)."""
    return _pairs(spark, sf_dir).select("pa", "pb", F.col("w").cast("bigint").alias("w"))


@query(
    "graph_degree",
    oracle=_EDGES_CTE
    + """
    SELECT src AS node, COUNT(*) AS degree, CAST(SUM(w) AS BIGINT) AS weighted_degree
    FROM edges GROUP BY src
    """,
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree / weighted degree per vertex (integer-exact)."""
    return (
        _edges(spark, sf_dir)
        .groupBy(F.col("src").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("degree"),
            F.sum("w").cast("bigint").alias("weighted_degree"),
        )
    )


@query(
    "graph_triangles",
    oracle=_EDGES_CTE
    + """
    , tri AS (
      SELECT p1.pa AS a, p1.pb AS b, p2.pb AS c
      FROM pairs p1
      JOIN pairs p2 ON p1.pb = p2.pa
      JOIN pairs p3 ON p3.pa = p1.pa AND p3.pb = p2.pb
    ),
    pertex AS (
      SELECT a AS node FROM tri UNION ALL
      SELECT b FROM tri UNION ALL
      SELECT c FROM tri
    )
    SELECT node, COUNT(*) AS n_triangles FROM pertex GROUP BY node
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle count (clustering signal). Ordered enumeration
    a<b<c over the canonical pair list counts each triangle once; each
    triangle credits its three vertices."""
    p = _pairs(spark, sf_dir).select("pa", "pb")
    p1 = p.alias("p1")
    p2 = p.alias("p2")
    p3 = p.alias("p3")
    tri = (
        p1.join(p2, F.col("p1.pb") == F.col("p2.pa"))
        .join(
            p3,
            (F.col("p3.pa") == F.col("p1.pa")) & (F.col("p3.pb") == F.col("p2.pb")),
        )
        .select(
            F.col("p1.pa").alias("a"),
            F.col("p1.pb").alias("b"),
            F.col("p2.pb").alias("c"),
        )
    )
    pertex = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return pertex.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


_KTRUSS_K = 3  # every surviving edge sits in >= k-2 = 1 triangle
_KTRUSS_ORACLE_ROUNDS = 4  # unroll depth; measured fixpoint is 2 at all SFs
_KTRUSS_MAX_ROUNDS = 12  # Spark-side loud-fail bound on the peel loop


def _ktruss_oracle() -> str:
    # Fixed-depth unroll of the support peel (the CC_MAX_ROUNDS
    # pattern): each round enumerates triangles on the CURRENT edge set
    # (ordered x<y<z — each triangle once), credits its three edges,
    # drops edges under k-2 support. Depth 4 covers the measured
    # fixpoint (2) with margin; the Spark side iterates to the true
    # fixpoint and fails loudly past _KTRUSS_MAX_ROUNDS, so a deeper
    # corpus surfaces as a loud error, not a silent mismatch.
    sql = _EDGES_CTE + ", t0 AS (SELECT pa, pb FROM pairs)"
    cur = "t0"
    for r in range(1, _KTRUSS_ORACLE_ROUNDS + 1):
        sql += f"""
    , sup{r} AS MATERIALIZED (
      SELECT pa, pb, COUNT(*) AS s FROM (
        SELECT x AS pa, y AS pb FROM (
          SELECT p1.pa AS x, p1.pb AS y, p2.pb AS z
          FROM {cur} p1 JOIN {cur} p2 ON p1.pb = p2.pa
          JOIN {cur} p3 ON p3.pa = p1.pa AND p3.pb = p2.pb)
        UNION ALL
        SELECT y, z FROM (
          SELECT p1.pa AS x, p1.pb AS y, p2.pb AS z
          FROM {cur} p1 JOIN {cur} p2 ON p1.pb = p2.pa
          JOIN {cur} p3 ON p3.pa = p1.pa AND p3.pb = p2.pb)
        UNION ALL
        SELECT x, z FROM (
          SELECT p1.pa AS x, p1.pb AS y, p2.pb AS z
          FROM {cur} p1 JOIN {cur} p2 ON p1.pb = p2.pa
          JOIN {cur} p3 ON p3.pa = p1.pa AND p3.pb = p2.pb)
      ) GROUP BY pa, pb),
    t{r} AS MATERIALIZED (
      SELECT s.pa, s.pb, s.s FROM sup{r} s
      WHERE s.s >= {_KTRUSS_K - 2})"""
        cur = f"t{r}"
    return sql + f"""
    SELECT pa, pb, CAST(s AS BIGINT) AS support FROM t{_KTRUSS_ORACLE_ROUNDS}"""


@query("graph_ktruss", oracle=_ktruss_oracle())
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (k=3): the maximal subgraph where every
    edge closes at least k-2 triangles — the EDGE-level cohesion
    filter (graph_kcore is the vertex-level one): citation cliques,
    review rings, and tightly-coupled component clusters survive; the
    long tail of incidental co-occurrence edges peels away. Returns the
    surviving edges with their final-round support.

    Algorithm: iterative support peel — enumerate ordered triangles
    x<y<z on the current edge set (each triangle exactly once via the
    canonical pa<pb pair list), credit each triangle's three edges,
    drop edges with support < k-2, repeat until the edge set stops
    shrinking (fixpoint is schedule-independent: the k-truss is unique,
    so the loop and the oracle's fixed unroll meet at the same set).
    Integer counts only — no float surface at all.

    Scale shape: each round is two self-joins on the shrinking edge set
    + one count agg — the graph_triangles plan run to fixpoint, always
    on the pruned set (cost is monotone decreasing, the kcore-peel
    property). Edge state is localCheckpointed per round so lineage
    stays flat; the loop fails loudly past _KTRUSS_MAX_ROUNDS rather
    than mismatch a deeper corpus."""
    cur = _pairs(spark, sf_dir).select("pa", "pb").withColumn(
        "s", F.lit(0).cast("bigint")
    )
    prev_n = None  # a round that drops no edge recomputes the same supports
    for _ in range(_KTRUSS_MAX_ROUNDS):
        p1, p2, p3 = cur.alias("p1"), cur.alias("p2"), cur.alias("p3")
        tri = (
            p1.join(p2, F.col("p1.pb") == F.col("p2.pa"))
            .join(
                p3,
                (F.col("p3.pa") == F.col("p1.pa"))
                & (F.col("p3.pb") == F.col("p2.pb")),
            )
            .select(
                F.col("p1.pa").alias("x"),
                F.col("p1.pb").alias("y"),
                F.col("p2.pb").alias("z"),
            )
        )
        sup = (
            tri.select(F.col("x").alias("pa"), F.col("y").alias("pb"))
            .unionAll(tri.select(F.col("y").alias("pa"), F.col("z").alias("pb")))
            .unionAll(tri.select(F.col("x").alias("pa"), F.col("z").alias("pb")))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).cast("bigint").alias("s"))
        )
        cur, seen = checkpoint(
            sup.filter(F.col("s") >= _KTRUSS_K - 2).select("pa", "pb", "s"),
            n=F.count(F.lit(1)),
        )
        if seen["n"] == prev_n:
            return cur.select("pa", "pb", F.col("s").alias("support"))
        prev_n = seen["n"]
    raise RuntimeError(
        f"graph_ktruss: no fixpoint within {_KTRUSS_MAX_ROUNDS} rounds "
        f"(raise _KTRUSS_MAX_ROUNDS and the oracle unroll together)"
    )


def _cc_oracle() -> str:
    sql = _EDGES_CTE + ", l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)"
    for r in range(1, CC_MAX_ROUNDS + 1):
        sql += f"""
    , l{r} AS MATERIALIZED (
      SELECT node, MIN(lbl) AS lbl FROM (
        SELECT node, lbl FROM l{r - 1}
        UNION ALL
        SELECT e.dst AS node, l.lbl FROM l{r - 1} l JOIN edges e ON e.src = l.node
      ) GROUP BY node
    )"""
    return sql + f"\n    SELECT node, lbl AS component FROM l{CC_MAX_ROUNDS}"


# Workaround (Spark 4.1.2): Union constraint rewriting throws
# NoSuchElementException when a checkpointed self-joined label table feeds
# the next round's union; constraints buy nothing in these loops (joins
# are on exact keys over tiny tables), so _min_label_loop runs its
# checkpoints inside conf_scope(spark, _NO_CONSTRAINTS).
_NO_CONSTRAINTS = {"spark.sql.constraintPropagation.enabled": "false"}


@query("graph_cc", oracle=_cc_oracle())
def graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by min-label propagation to fixpoint
    (Pregel-style driver loop) with pointer jumping every round;
    localCheckpoint per round truncates lineage so the plan stays flat
    however many rounds run."""
    edges = _edges(spark, sf_dir).select("src", "dst")
    nodes = edges.select(F.col("src").alias("node")).distinct()
    return _min_label_loop(nodes, edges, CC_MAX_ROUNDS, "graph_cc").select(
        "node", F.col("lbl").alias("component")
    )


def _min_label_loop(
    nodes: DataFrame, edges: DataFrame, max_rounds: int, name: str
) -> DataFrame:
    """Min-label propagation along src→dst edges with pointer jumping,
    to fixpoint: (node, lbl) with lbl(v) = min id over {v} ∪ the nodes
    that reach v. On a symmetric edge list that is the min id of v's
    component (graph_cc, graph_louvain_move's merge forest); on a
    directed one, the min ancestor-or-self (graph_scc's color and
    confirm steps).

    Each round is propagate (union + min) then jump (lbl ← lbl(lbl)).
    The jump is sound because lbl(v) is always an ancestor-or-self of
    v, so the self-join always resolves and label chains collapse
    geometrically; when ids run against edge direction the chain
    collapses to self-pointing labels and a round advances the min one
    hop, so the worst case is O(longest path) rounds, not O(log). The
    fixpoint itself is schedule-independent (if some ancestor u had
    u < lbl(v), labels are non-increasing along the u→v path, a
    contradiction), so it equals every oracle's plain unrolled
    propagation.

    Halt test: the union's lbl rows carry ``prev = lbl`` and the
    propagated rows NULL, so ``max(prev)`` is the node's old label and
    the round's changed-label count is observed by its own checkpoint
    job. The ONLY successful exit is an observed zero-change round; if
    round ``max_rounds + 1`` still changes a label, the loop raises
    rather than return labels the caller's oracle would not reach.
    At a propagation fixpoint the jump is a no-op, and otherwise the
    jump strictly lowers some label, so "zero change" is exactly
    "propagation fixpoint"."""
    spark = edges.sparkSession
    lbl = nodes.select("node", F.col("node").alias("lbl"))
    with conf_scope(spark, _NO_CONSTRAINTS):
        for _ in range(max_rounds + 1):
            propagated = lbl.join(edges, lbl["node"] == edges["src"]).select(
                F.col("dst").alias("node"), "lbl", F.lit(None).alias("prev")
            )
            new_lbl = (
                lbl.select("node", "lbl", F.col("lbl").alias("prev"))
                .unionByName(propagated)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"), F.max("prev").alias("prev"))
            )
            jumped = new_lbl.alias("x").join(
                new_lbl.select(
                    F.col("node").alias("jn"), F.col("lbl").alias("jlbl")
                ),
                F.col("x.lbl") == F.col("jn"),
            )
            staged, seen = checkpoint(
                jumped.select(
                    F.col("x.node").alias("node"),
                    F.col("jlbl").alias("lbl"),
                    F.col("x.prev").alias("prev"),
                ),
                changed=F.sum(
                    F.coalesce(F.col("lbl") != F.col("prev"), F.lit(True)).cast(
                        "int"
                    )
                ),
            )
            lbl = staged.select("node", "lbl")
            if seen["changed"] == 0:
                return lbl
    raise RuntimeError(
        f"{name}: min-label propagation still changed labels in round "
        f"{max_rounds + 1} — raise the caller's round bound (and its "
        f"oracle unroll, where it has one) for this graph shape"
    )


def pagerank_rounds_sql() -> str:
    """The quantized PageRank unroll as SQL CTEs, assuming an `edges`
    CTE is already in scope: appends deg/nn/r0..r{ITERS}. Shared by the
    graph_pagerank oracle and the pipeline_patents_e2e flagship oracle.

    Integer-unit power iteration: rank state is int64 femto-units
    (RANK_SCALE = 1e15). Per-edge contribution = rq // deg (exact int
    division — nonnegative, so floor == truncate in both engines);
    damping = (85 * Σ) // 100; teleport = (15 * SCALE) // (100 * n).
    The per-group Σ is a plain integer SUM — order-independent and
    mergeable at any parallelism, with NO per-node contribution list
    (a 10^8-in-degree hub costs O(1) agg state, not an in-memory
    array). DuckDB SUM(BIGINT) is exact HUGEINT; group mass is
    bounded by total rank mass = SCALE, so 85 * Σ ≤ 8.5e16 fits int64
    on the Spark side. The only float op is the final /SCALE."""
    sql = f"""
    , deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS node, {RANK_SCALE} // nn.n AS rq
           FROM deg CROSS JOIN nn)"""
    for t in range(1, PAGERANK_ITERS + 1):
        sql += f"""
    , r{t} AS MATERIALIZED (
      SELECT e.dst AS node,
             (15 * {RANK_SCALE}) // (100 * ANY_VALUE(nn.n))
               + (85 * SUM(r.rq // d.deg)) // 100 AS rq
      FROM r{t - 1} r
      JOIN deg d ON r.node = d.src
      JOIN edges e ON e.src = r.node
      CROSS JOIN nn
      GROUP BY e.dst
    )"""
    return sql


def _pagerank_oracle() -> str:
    return _EDGES_CTE + pagerank_rounds_sql() + f"""
    SELECT node, CAST(rq AS DOUBLE) / {RANK_SCALE} AS rank
    FROM r{PAGERANK_ITERS}"""


def pagerank_loop(edges: DataFrame, checkpoint_every: int = 5) -> DataFrame:
    """Quantized PageRank state loop over an arbitrary directed edge
    list (src, dst): returns (node, rq) with rq in int64 femto-units
    after PAGERANK_ITERS rounds — the Spark twin of
    pagerank_rounds_sql(). Shared by graph_pagerank and the
    pipeline_patents_e2e flagship."""
    edges = edges.select("src", "dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()
    tele_q = (15 * RANK_SCALE) // (100 * n)  # exact, mirrors the oracle
    ranks = deg.select(F.col("src").alias("node")).withColumn(
        "rq", F.lit(RANK_SCALE // n).cast("long")
    )
    ranks = ranks.coalesce(4)
    for t in range(1, PAGERANK_ITERS + 1):
        contribs = (
            ranks.alias("r")
            .join(deg.alias("d"), F.col("r.node") == F.col("d.src"))
            .join(edges.alias("e"), F.col("r.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"),
                F.expr("r.rq div d.deg").alias("cq"),
            )
        )
        ranks = contribs.groupBy("node").agg(
            (F.lit(tele_q) + F.expr("(85 * sum(cq)) div 100"))
            .cast("long")
            .alias("rq")
        )
        if t % checkpoint_every == 0:
            ranks = ranks.coalesce(4).localCheckpoint()
    return ranks


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, damping 0.85, FIXED 10 iterations (fixed count =
    deterministic, SURVEY §5). Rank state is exact int64 femto-units
    (RANK_SCALE): per-edge contribution rq div deg, damping
    (85·Σ) div 100, teleport (15·SCALE) div (100·n) — all integer, so
    the per-node reduction is a plain SUM (order-independent, map-side
    combinable, O(1) agg state per node). Unlike a collect_list fold,
    a power-law hub with 10^7+ in-neighbors never materializes its
    contribution list in memory — this is the 100 TB-safe posture
    (quantized-sum, same as agg_time_decay / vec_pca_project).
    Quantization error ≤ in_deg·iters/SCALE ≈ 1e-12 at bench scale;
    every vertex of this graph has out-degree ≥ 1, so no dangling-mass
    term is needed. The only float op is the final /SCALE."""
    ranks = pagerank_loop(_edges(spark, sf_dir))
    return ranks.select(
        "node", (F.col("rq") / F.lit(float(RANK_SCALE))).alias("rank")
    )


_SEED_PRED = "src % 500 = 0"


def _bfs_oracle(max_depth: int, seed_pred: str) -> str:
    sql = _EDGES_CTE + f"""
    , d0 AS (SELECT DISTINCT src AS node, 0 AS dist FROM edges WHERE {seed_pred})"""
    for r in range(1, max_depth + 1):
        sql += f"""
    , d{r} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{r - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d{r - 1} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )"""
    return sql + f"\n    SELECT node, CAST(dist AS INTEGER) AS dist FROM d{max_depth}"


def _bfs(spark: SparkSession, sf_dir: str, max_depth: int, seed_filter) -> DataFrame:
    """Frontier-expansion BFS keeping min first-visit depth; one
    join+min-agg per level, checkpointed."""
    edges = _edges(spark, sf_dir).select("src", "dst")
    dist = (
        edges.filter(seed_filter)
        .select(F.col("src").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    for r in range(1, max_depth + 1):
        expanded = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if r % 3 == 0:
            dist = dist.localCheckpoint()
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


@query("graph_bfs_khop", oracle=_bfs_oracle(KHOP_K, _SEED_PRED))
def graph_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop neighborhood from the seed set (part keys ≡ 0 mod 500):
    every reachable vertex with its min hop distance ≤ 3 (neighborhood
    queries over the citation graph, SURVEY §0.1)."""
    return _bfs(spark, sf_dir, KHOP_K, F.col("src") % 500 == 0)


@query(
    "graph_shortest_path",
    oracle=_EDGES_CTE
    + ", seed AS (SELECT MIN(src) AS s FROM edges)"
    + _bfs_oracle(SSSP_MAX_DEPTH, "src = (SELECT s FROM seed)").split(_EDGES_CTE, 1)[1],
)
def graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted shortest-path length from the minimum vertex id, bounded
    at depth 6 (documented bound; Cypher path-query analog)."""
    edges = _edges(spark, sf_dir)
    seed = edges.agg(F.min("src")).collect()[0][0]
    return _bfs(spark, sf_dir, SSSP_MAX_DEPTH, F.col("src") == F.lit(seed))


SSSP_W_ROUNDS = 6


def _sssp_w_oracle() -> str:
    sql = _EDGES_CTE + """
    , seedw AS (SELECT MIN(src) AS s FROM edges)
    , w0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM seedw)"""
    for r in range(1, SSSP_W_ROUNDS + 1):
        sql += f"""
    , w{r} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM w{r - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM w{r - 1} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )"""
    return sql + f"\n    SELECT node, dist FROM w{SSSP_W_ROUNDS}"


@query("graph_sssp_weighted", oracle=_sssp_w_oracle())
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths by Bellman-Ford relaxation,
    a FIXED 6 rounds (deterministic, oracle-unrollable): each round
    relaxes every edge once — dist <- min(dist, dist(src) + w) — via one
    join + min-aggregate; integer co-occurrence weights keep the math
    exact. Distances are exact for all paths of <= 6 hops (the
    documented bound, like graph_shortest_path's depth cap). Same
    driver-loop + localCheckpoint harness as CC/PageRank."""
    edges = _edges(spark, sf_dir)  # (src, dst, w) both directions
    seed = edges.agg(F.min("src")).collect()[0][0]
    # seed frontier derives from the (checkpointed) edge table, NOT a
    # driver LocalRelation: a 1-row LocalRelation at the loop root makes
    # AQE re-plan every unioned stage per round (measured 20x slower);
    # a distributed origin keeps each round's plan incremental.
    dist = (
        edges.filter(F.col("src") == F.lit(seed))
        .select(F.col("src").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    for r in range(1, SSSP_W_ROUNDS + 1):
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if r % 3 == 0:
            dist = dist.localCheckpoint()
    return dist.select("node", F.col("dist").cast("bigint").alias("dist"))


@query(
    "graph_assoc_rules",
    oracle=_EDGES_CTE + """
    , item AS (
      SELECT l_partkey AS part, COUNT(DISTINCT l_orderkey) AS n_orders
      FROM lineitem GROUP BY l_partkey
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM lineitem)
    SELECT e.src AS antecedent, e.dst AS consequent,
           CAST(e.w AS BIGINT) AS pair_support,
           CAST(ROUND(CAST(e.w AS DOUBLE) / ia.n_orders, 9) AS DOUBLE) AS confidence,
           CAST(ROUND(CAST(e.w AS DOUBLE) * n.n_baskets / (ia.n_orders * ic.n_orders), 9) AS DOUBLE) AS lift
    FROM edges e
    JOIN item ia ON e.src = ia.part
    JOIN item ic ON e.dst = ic.part
    CROSS JOIN n
    WHERE CAST(e.w AS DOUBLE) / ia.n_orders >= 0.08
    """,
)
def graph_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for each
    directed co-purchase pair, support (co-occurrence count, min-support
    pruned upstream), confidence = support/|antecedent baskets|, lift =
    confidence/overall consequent rate; keep confidence >= 0.08 (sized to the uniform basket data). Reuses
    the shared edge cache; item supports are one distinct-count over the
    fact table. The ratios divide exact integers and round 9dp, so both
    engines agree bitwise."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _edges(spark, sf_dir)  # directed both ways: src=antecedent
    item = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    n_baskets = li.select("l_orderkey").distinct().count()
    ia = item.select(F.col("part").alias("antecedent"), F.col("n_orders").alias("na"))
    ic = item.select(F.col("part").alias("consequent"), F.col("n_orders").alias("nc"))
    return (
        edges.select(
            F.col("src").alias("antecedent"),
            F.col("dst").alias("consequent"),
            F.col("w").cast("bigint").alias("pair_support"),
        )
        .join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .withColumn(
            "confidence",
            round_dp(F.col("pair_support").cast("double") / F.col("na")),
        )
        .withColumn(
            "lift",
            round_dp(
                F.col("pair_support").cast("double")
                * F.lit(float(n_baskets))
                / (F.col("na") * F.col("nc")),
            ),
        )
        .filter(F.col("pair_support").cast("double") / F.col("na") >= 0.08)
        .select("antecedent", "consequent", "pair_support", "confidence", "lift")
    )


@query(
    "graph_link_predict",
    oracle=_EDGES_CTE
    + """
    , deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    cn AS (
      SELECT p.pa, p.pb, e1.dst AS n
      FROM pairs p
      JOIN edges e1 ON e1.src = p.pa
      JOIN edges e2 ON e2.src = p.pb AND e2.dst = e1.dst
    )
    SELECT c.pa, c.pb,
           COUNT(*) AS common_n,
           CAST(COUNT(*) / (da.deg + db.deg - COUNT(*)) AS DOUBLE) AS jaccard,
           CAST(SUM(CAST(ROUND(1.0 / LN(dn.deg), 9) AS DECIMAL(24,9))) AS DOUBLE)
             AS adamic_adar
    FROM cn c
    JOIN deg dn ON dn.node = c.n
    JOIN deg da ON da.node = c.pa
    JOIN deg db ON db.node = c.pb
    GROUP BY c.pa, c.pb, da.deg, db.deg
    """,
)
def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores for every existing edge with >=1 common
    neighbor: common-neighbor count, Jaccard of neighbor sets, and
    Adamic-Adar (sum of 1/ln(deg(n)) over common neighbors n — the
    citation-recommendation analog). Two self-joins of the cached edge
    table find common neighbors; degrees broadcast (one row per vertex).
    Determinism: each 1/ln term rounds to 9dp then sums exactly as
    decimal(24,9) (order-independent); a common neighbor always has
    deg >= 2 so ln never hits zero."""
    p = _pairs(spark, sf_dir).select("pa", "pb")
    e = _edges(spark, sf_dir)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    cn = p.join(
        e.select(F.col("src").alias("pa"), F.col("dst").alias("n")), "pa"
    ).join(e.select(F.col("src").alias("pb"), F.col("dst").alias("n")), ["pb", "n"])
    term = round_dp(F.lit(1.0) / F.log(F.col("dn.deg"))).cast("decimal(24,9)")
    return (
        cn.join(F.broadcast(deg).alias("dn"), F.col("n") == F.col("dn.node"))
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).alias("common_n"),
            F.sum(term).cast("double").alias("adamic_adar"),
        )
        .join(F.broadcast(deg).alias("da"), F.col("pa") == F.col("da.node"))
        .join(F.broadcast(deg).alias("db"), F.col("pb") == F.col("db.node"))
        .select(
            "pa",
            "pb",
            "common_n",
            (
                F.col("common_n")
                / (F.col("da.deg") + F.col("db.deg") - F.col("common_n"))
            ).alias("jaccard"),
            "adamic_adar",
        )
    )


KCORE_K = 3
# Fixpoint depth measured on driver data: 9 rounds at sf0.01 (1 at
# sf0.001, 3 at sf0.1 — where the 3-core is genuinely empty); 12 gives
# margin while keeping the oracle's unrolled CTE bounded.
KCORE_ROUNDS = 12


def _kcore_oracle() -> str:
    sql = _EDGES_CTE + ", r0 AS (SELECT src, dst FROM edges)"
    for i in range(KCORE_ROUNDS):
        sql += f"""
    , k{i+1} AS MATERIALIZED (SELECT src FROM r{i} GROUP BY src HAVING COUNT(*) >= {KCORE_K}),
    r{i+1} AS MATERIALIZED (
      SELECT e.src, e.dst FROM r{i} e
      JOIN k{i+1} a ON e.src = a.src
      JOIN k{i+1} b ON e.dst = b.src
    )"""
    sql += f"""
    SELECT src AS node, COUNT(*) AS deg FROM r{KCORE_ROUNDS} GROUP BY src
    """
    return sql


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (k=3, fixed 12 rounds —
    fixed-iteration determinism per SURVEY §5; 12 ≥ the measured fixpoint
    depth on all driver SFs): each round drops vertices with current
    degree < k and their edges; survivors report their degree inside the
    3-core. The dense-subgraph filter used to find tightly-coupled patent
    clusters. Each round is
    one degree agg + two semi-join-shaped prunes on the (tiny, cached)
    edge list; localCheckpoint per round stops plan growth exactly like
    the CC/PageRank loops."""
    e = _edges(spark, sf_dir).select("src", "dst")
    for _ in range(KCORE_ROUNDS):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("src")
        )
        e = (
            e.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .localCheckpoint()
        )
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


LPA_ITERS = 4


def _lpa_cte() -> str:
    sql = _EDGES_CTE + """
    , l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    for i in range(LPA_ITERS):
        sql += f"""
    , c{i+1} AS MATERIALIZED (
        SELECT e.src AS node, l.label, SUM(e.w) AS wt
        FROM edges e JOIN l{i} l ON e.dst = l.node
        GROUP BY e.src, l.label)
    , l{i+1} AS MATERIALIZED (
        SELECT node, label FROM (
          SELECT node, label,
                 ROW_NUMBER() OVER (PARTITION BY node ORDER BY wt DESC, label) AS rn
          FROM c{i+1}
        ) WHERE rn = 1)"""
    sql += f"""
    , lpa AS MATERIALIZED (
        SELECT node, CAST(label AS BIGINT) AS community FROM l{LPA_ITERS})
    """
    return sql


def _lpa_oracle() -> str:
    return _lpa_cte() + "SELECT node, community FROM lpa"


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA communities, fixed LPA_ITERS rounds (see
    graph_label_prop for semantics). Shared like the pair table:
    graph_modularity consumes the same assignment, and recomputing an
    iterative loop inside a downstream query is the r3-verdict
    anti-pattern (vec_rerank_stub's original sin)."""
    return shared(
        spark, sf_dir, "lineitem", "lpa_labels", lambda: _lpa_run(spark, sf_dir)
    )


def _lpa_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    rank = Window.partitionBy("node").orderBy(F.col("wt").desc(), F.col("label"))
    for _ in range(LPA_ITERS):
        nbr = e.join(labels, e.dst == labels.node).select(
            e.src.alias("node"), "label", "w"
        )
        labels = (
            nbr.groupBy("node", "label")
            .agg(F.sum("w").alias("wt"))
            .withColumn("rn", F.row_number().over(rank))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint()
        )
    return labels.select("node", F.col("label").cast("bigint").alias("community"))


@query("graph_label_prop", oracle=_lpa_oracle())
def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation, fixed 4
    iterations (fixed-iter determinism, SURVEY §5): every vertex starts
    in its own community; each round it adopts the label carrying the
    most edge weight among its neighbors, ties broken by smallest label
    (the tie-break makes sync LPA fully deterministic — no RNG, no
    update-order dependence). Per round: one edge⋈labels join + one
    weighted count + one per-node argmax window; localCheckpoint stops
    lineage growth like the other fixpoint loops."""
    return _lpa_labels(spark, sf_dir)


PPR_ITERS = 6


def _ppr_oracle() -> str:
    # Same integer-unit posture as _pagerank_oracle: rank state in int64
    # femto-units, contributions rq // deg, damping (85·Σ)//100, teleport
    # (15·SCALE)//(100·n_seeds); the contribution+teleport merge is an
    # integer SUM over the union — order-independent, no sorted folds.
    sql = _EDGES_CTE + f"""
    , deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    seeds AS (SELECT DISTINCT src AS node FROM edges WHERE src % 500 = 0),
    ns AS (SELECT COUNT(*) AS n FROM seeds),
    tele AS (SELECT node, (15 * {RANK_SCALE}) // (100 * ns.n) AS vq
             FROM seeds CROSS JOIN ns),
    p0 AS (SELECT node, {RANK_SCALE} // ns.n AS rq FROM seeds CROSS JOIN ns)"""
    for t in range(1, PPR_ITERS + 1):
        sql += f"""
    , c{t} AS (
      SELECT e.dst AS node, (85 * SUM(r.rq // d.deg)) // 100 AS vq
      FROM p{t - 1} r
      JOIN deg d ON r.node = d.src
      JOIN edges e ON e.src = r.node
      GROUP BY e.dst
    ),
    p{t} AS MATERIALIZED (
      SELECT node, SUM(vq) AS rq
      FROM (SELECT node, vq FROM c{t} UNION ALL SELECT node, vq FROM tele)
      GROUP BY node
    )"""
    return sql + f"""
    SELECT node, CAST(rq AS DOUBLE) / {RANK_SCALE} AS rank FROM p{PPR_ITERS}"""


@query("graph_pagerank_personalized", oracle=_ppr_oracle())
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the seed set (part keys ≡ 0 mod 500 —
    same seeds as graph_bfs_khop): teleport mass returns ONLY to seeds,
    so rank measures proximity to the seed neighborhood (the
    related-patents / recommendation query, SURVEY §0.1 step 4). Fixed
    6 iterations; rank state is exact int64 femto-units (RANK_SCALE) —
    contributions rq div deg, damping (85·Σ) div 100, and the
    teleport+contribution merge is a plain integer SUM over the union.
    Every reduction is order-independent with O(1) agg state per node
    (no collect_list fold: a hub's in-neighbor contributions never
    materialize as one in-memory array — the 100 TB-safe posture).

    Scale shape: identical to graph_pagerank (join+agg per round over a
    checkpointed edge cache) plus one union with the constant seed
    table; rank state stays ∝ |reached nodes|, which for tight seed
    sets is far smaller than the graph — the reason PPR is the
    production form of 'what is near these nodes' at 100 TB."""
    edges = _edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seeds = (
        edges.filter(F.col("src") % 500 == 0)
        .select(F.col("src").alias("node"))
        .distinct()
    )
    n_seeds = seeds.count()
    tele = seeds.withColumn(
        "vq", F.lit((15 * RANK_SCALE) // (100 * n_seeds)).cast("long")
    )
    ranks = seeds.withColumn(
        "rq", F.lit(RANK_SCALE // n_seeds).cast("long")
    ).coalesce(4)
    for t in range(1, PPR_ITERS + 1):
        contribs = (
            ranks.alias("r")
            .join(deg.alias("d"), F.col("r.node") == F.col("d.src"))
            .join(edges.alias("e"), F.col("r.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"),
                F.expr("r.rq div d.deg").alias("cq"),
            )
        )
        summed = contribs.groupBy("node").agg(
            F.expr("(85 * sum(cq)) div 100").cast("long").alias("vq")
        )
        ranks = (
            summed.unionByName(tele.select("node", "vq"))
            .groupBy("node")
            .agg(F.sum("vq").cast("long").alias("rq"))
        )
        if t % 3 == 0:
            ranks = ranks.coalesce(4).localCheckpoint()
    return ranks.select(
        "node", (F.col("rq") / F.lit(float(RANK_SCALE))).alias("rank")
    )


_CLOSENESS_SEED_PRED = "src % 250 = 0"
_CLOSENESS_DEPTH = 3


def _closeness_oracle() -> str:
    sql = _EDGES_CTE + f"""
    , c0 AS (SELECT DISTINCT src AS seed, src AS node, 0 AS dist
             FROM edges WHERE {_CLOSENESS_SEED_PRED})"""
    for r in range(1, _CLOSENESS_DEPTH + 1):
        sql += f"""
    , c{r} AS MATERIALIZED (
      SELECT seed, node, MIN(dist) AS dist FROM (
        SELECT seed, node, dist FROM c{r - 1}
        UNION ALL
        SELECT d.seed, e.dst AS node, d.dist + 1 AS dist
        FROM c{r - 1} d JOIN edges e ON e.src = d.node
      ) GROUP BY seed, node
    )"""
    return sql + f"""
    SELECT node, COUNT(*) AS n_seeds_reached,
           SUM(CAST(6 / dist AS BIGINT)) / 6.0 AS harmonic
    FROM c{_CLOSENESS_DEPTH} WHERE dist > 0
    GROUP BY node"""


@query("graph_closeness", oracle=_closeness_oracle())
def graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic closeness centrality (Eppstein–Wang estimator
    shape): per-SEED BFS to depth 3 from a deterministic ~|V|/250 seed
    sample, then C(v) = Σ_seeds 1/d(seed, v). Per-seed distances ride
    the same frontier-expansion loop as graph_bfs_khop with (seed, node)
    as the min-agg key — state is |seeds| × reach, not |V|²; at 100 TB
    the seed count is the precision/cost dial (error ∝ 1/√seeds). The
    harmonic sum accumulates in exact SIXTHS (6/d is an integer for
    every d ≤ 3), so the reduction is order-independent and the one
    float op is the final /6."""
    edges = _edges(spark, sf_dir).select("src", "dst")
    dist = (
        edges.filter(F.expr(_CLOSENESS_SEED_PRED))
        .select(F.col("src").alias("seed"), F.col("src").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    for r in range(1, _CLOSENESS_DEPTH + 1):
        expanded = dist.join(edges, dist.node == edges.src).select(
            "seed", F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionByName(expanded)
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
        )
    return (
        dist.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_seeds_reached"),
            (F.sum((6 / F.col("dist")).cast("bigint")) / 6.0).alias("harmonic"),
        )
    )


HITS_ITERS = 3


def _hits_oracle() -> str:
    # Directed subgraph (pa < pb half of the co-purchase pairs): on the
    # symmetric graph hubs == authorities and the exhibit is vacuous.
    # Integer-unit HITS: scores live in int64 femto-units (RANK_SCALE).
    # Per-side raw score = plain SUM of the opposite side's quantized
    # scores (exact: DuckDB SUM(BIGINT) is HUGEINT — no overflow at any
    # in-degree); max-normalization re-quantizes via
    # FLOOR(raw/max * SCALE), whose inputs are identical exact integers
    # in both engines (int→double casts are correctly rounded IEEE in
    # both), so the floor is bit-identical. No sorted folds anywhere.
    sql = _EDGES_CTE + f"""
    , de AS (SELECT src, dst FROM edges WHERE src < dst),
    a0 AS (SELECT DISTINCT dst AS node, CAST({RANK_SCALE} AS BIGINT) AS aq
           FROM de)"""
    for t in range(1, HITS_ITERS + 1):
        sql += f"""
    , hraw{t} AS MATERIALIZED (
      SELECT de.src AS node, SUM(a.aq) AS hs
      FROM de JOIN a{t - 1} a ON de.dst = a.node GROUP BY de.src),
    h{t} AS (SELECT node,
                    CAST(FLOOR(CAST(hs AS DOUBLE)
                          / CAST((SELECT MAX(hs) FROM hraw{t}) AS DOUBLE)
                          * {RANK_SCALE}) AS BIGINT) AS hq
             FROM hraw{t}),
    araw{t} AS MATERIALIZED (
      SELECT de.dst AS node, SUM(h.hq) AS "as"
      FROM de JOIN h{t} h ON de.src = h.node GROUP BY de.dst),
    a{t} AS (SELECT node,
                    CAST(FLOOR(CAST("as" AS DOUBLE)
                          / CAST((SELECT MAX("as") FROM araw{t}) AS DOUBLE)
                          * {RANK_SCALE}) AS BIGINT) AS aq
             FROM araw{t})"""
    return sql + f"""
    SELECT COALESCE(h.node, a.node) AS node,
           COALESCE(CAST(h.hq AS DOUBLE) / {RANK_SCALE}, 0.0) AS hub,
           COALESCE(CAST(a.aq AS DOUBLE) / {RANK_SCALE}, 0.0) AS authority
    FROM h{HITS_ITERS} h FULL OUTER JOIN a{HITS_ITERS} a ON h.node = a.node"""


@query("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the DIRECTED half of the
    co-purchase graph, fixed 3 iterations: h(u) = Σ a(v) over u→v, then
    a(v) = Σ h(u), each normalized by the MAX score — max-normalization
    instead of the L2 norm because max is order-free and exact, where a
    global float L2 sum would be reduction-order-dependent. Scores live
    in exact int64 femto-units (RANK_SCALE); the per-side reduction is
    a plain SUM accumulated in DECIMAL(38,0) (exact at ANY in-degree —
    a 10^8-in-neighbor hub costs O(1) agg state, never a collect_list
    array), and the max-normalize re-quantizes via one
    FLOOR(raw/max·SCALE) whose int→double inputs are correctly-rounded
    IEEE in both engines. Same Pregel shape as PageRank — per iteration
    one join + one integer-sum agg per side, the 1-row max broadcast —
    so the 100 TB cost model is identical."""
    de = _edges(spark, sf_dir).select("src", "dst").filter(F.col("src") < F.col("dst"))
    a = (
        de.select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("aq", F.lit(RANK_SCALE).cast("long"))
    )
    a = a.coalesce(4)
    h = None

    def _requant(raw: F.Column, mx: F.Column) -> F.Column:
        # FLOOR(raw/max * SCALE): decimal→double casts are correctly
        # rounded in both engines, then one IEEE divide+multiply+floor.
        return F.floor(
            raw.cast("double") / mx.cast("double") * F.lit(float(RANK_SCALE))
        ).cast("long")

    for t in range(1, HITS_ITERS + 1):
        hraw = (
            de.join(a, de.dst == a.node)
            .groupBy(de.src.alias("hnode"))
            .agg(F.sum(F.col("aq").cast("decimal(38,0)")).alias("hs"))
        )
        hmax = hraw.agg(F.max("hs").alias("hm"))
        h = hraw.crossJoin(F.broadcast(hmax)).select(
            F.col("hnode").alias("node"),
            _requant(F.col("hs"), F.col("hm")).alias("hq"),
        )
        araw = (
            de.join(h, de.src == h.node)
            .groupBy(de.dst.alias("anode"))
            .agg(F.sum(F.col("hq").cast("decimal(38,0)")).alias("as"))
        )
        amax = araw.agg(F.max("as").alias("am"))
        a = araw.crossJoin(F.broadcast(amax)).select(
            F.col("anode").alias("node"),
            _requant(F.col("as"), F.col("am")).alias("aq"),
        )
        a = a.coalesce(4).localCheckpoint()
        h = h.coalesce(4).localCheckpoint()
    scale = F.lit(float(RANK_SCALE))
    return (
        h.withColumnRenamed("node", "hnode")
        .join(a.withColumnRenamed("node", "anode"), F.col("hnode") == F.col("anode"), "full")
        .select(
            F.coalesce(F.col("hnode"), F.col("anode")).alias("node"),
            F.coalesce(F.col("hq") / scale, F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("aq") / scale, F.lit(0.0)).alias("authority"),
        )
    )


WALK_STEPS = 4
_WALK_SEED_PRED = "src % 100 = 0"


def _walks_oracle() -> str:
    sql = _EDGES_CTE + f"""
    , nbr AS (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS r,
             COUNT(*) OVER (PARTITION BY src) AS deg
      FROM edges),
    w0 AS (SELECT DISTINCT src AS start, src AS cur, CAST(src AS VARCHAR) AS path
           FROM edges WHERE {_WALK_SEED_PRED})"""
    for t in range(1, WALK_STEPS + 1):
        sql += f"""
    , w{t} AS MATERIALIZED (
      SELECT w.start, n.dst AS cur, w.path || '->' || CAST(n.dst AS VARCHAR) AS path
      FROM w{t - 1} w
      JOIN nbr n ON n.src = w.cur
       AND n.r = 1 + CAST(('0x' || substr(md5(CAST(w.start AS VARCHAR) || ':' ||
                     CAST(w.cur AS VARCHAR) || ':{t}'), 1, 8)) AS BIGINT) % n.deg
    )"""
    return sql + f"""
    SELECT start, cur AS end_node, path FROM w{WALK_STEPS}"""


@query("graph_random_walks", oracle=_walks_oracle())
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec walk-corpus generation, made deterministic: one
    4-step walk per seed node, each step choosing the md5((start, cur,
    step))-ranked neighbor — pseudorandom w.r.t. the graph but fully
    reproducible (RNG-seeded walkers diverge across retries/engines,
    which poisons embedding-training reproducibility). Each step is one
    join against the neighbor-rank table (rank + degree via one window
    over the edge list); walk state is (start, cur, path) rows, so 10⁹
    walkers × k steps is k joins co-partitioned on cur — the standard
    distributed walk-corpus shape for graph-embedding training data."""
    edges = _edges(spark, sf_dir).select("src", "dst")
    w_r = Window.partitionBy("src").orderBy("dst")
    w_d = Window.partitionBy("src")
    nbr = edges.select(
        "src",
        "dst",
        F.row_number().over(w_r).alias("r"),
        F.count(F.lit(1)).over(w_d).alias("deg"),
    )
    walks = (
        edges.filter(F.expr(_WALK_SEED_PRED))
        .select(F.col("src").alias("start"))
        .distinct()
        .withColumn("cur", F.col("start"))
        .withColumn("path", F.col("start").cast("string"))
    )
    for t in range(1, WALK_STEPS + 1):
        pick = (
            hex_int(
                F.md5(
                    F.concat(
                        F.col("start").cast("string"),
                        F.lit(":"),
                        F.col("cur").cast("string"),
                        F.lit(f":{t}"),
                    )
                ),
                8,
            )
            % F.col("deg")
            + 1
        )
        walks = (
            walks.join(nbr, walks.cur == nbr.src)
            .filter(F.col("r") == pick)
            .select(
                "start",
                F.col("dst").alias("cur"),
                F.concat(F.col("path"), F.lit("->"), F.col("dst").cast("string")).alias(
                    "path"
                ),
            )
        )
    return walks.select("start", F.col("cur").alias("end_node"), "path")


def _modularity_oracle() -> str:
    return _lpa_cte() + """
    , tot AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM edges)
    , wdeg AS (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS d
               FROM edges GROUP BY src)
    , comm AS (
        SELECT la.community, COUNT(*) AS n_nodes,
               CAST(SUM(wd.d) AS BIGINT) AS s_c
        FROM lpa la JOIN wdeg wd ON la.node = wd.node
        GROUP BY la.community)
    , win AS (
        SELECT ls.community, CAST(SUM(e.w) AS BIGINT) AS w_in
        FROM edges e
        JOIN lpa ls ON e.src = ls.node
        JOIN lpa ld ON e.dst = ld.node
        WHERE ls.community = ld.community
        GROUP BY ls.community)
    SELECT c.community, c.n_nodes, COALESCE(w.w_in, 0) AS w_in, c.s_c,
           CAST(ROUND((COALESCE(w.w_in, 0) * t.m2 - c.s_c * c.s_c) * 1.0
                      / (t.m2 * t.m2), 9) AS DOUBLE) AS q_contrib
    FROM comm c
    LEFT JOIN win w ON c.community = w.community
    CROSS JOIN tot t
    """


@query("graph_modularity", oracle=_modularity_oracle())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity contribution of the LPA partition
    (Newman's Q, the standard community-quality score; ΣQ_c over rows =
    the graph's modularity). Q_c = W_in_c/2m − (S_c/2m)² on the
    both-direction weighted edge table (2m = Σw since every undirected
    edge appears twice, W_in counts both directions).

    Plan shape: reuses the cached LPA assignment (_lpa_labels — never
    recomputes the iterative loop) and the cached edge table; the label
    table is |nodes|-sized (~3.7k), so both endpoint joins broadcast it
    against the edge list; 2m rides along as a broadcast 1-row cross
    join. All masses are exact int64 (weights are counts), so the single
    final double division is order-independent: w_in·2m ≤ (2m)² ≈ 2³⁰
    at sf0.1 and still ≪ 2⁶³ at 1000×."""
    e = _edges(spark, sf_dir)
    lab = _lpa_labels(spark, sf_dir)
    tot = e.agg(F.sum("w").alias("m2"))
    wdeg = e.groupBy("src").agg(F.sum("w").alias("d"))
    comm = (
        lab.join(wdeg, lab.node == wdeg.src)
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("d").alias("s_c"))
    )
    ls = lab.select(F.col("node").alias("sn"), F.col("community").alias("sc"))
    ld = lab.select(F.col("node").alias("dn"), F.col("community").alias("dc"))
    win = (
        e.join(F.broadcast(ls), e.src == F.col("sn"))
        .join(F.broadcast(ld), e.dst == F.col("dn"))
        .where(F.col("sc") == F.col("dc"))
        .groupBy(F.col("sc").alias("community"))
        .agg(F.sum("w").alias("w_in"))
    )
    return (
        comm.join(F.broadcast(win), "community", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("w_in"), F.lit(0)).alias("w_in"),
            "s_c",
            round_dp(
                (
                    F.coalesce(F.col("w_in"), F.lit(0)) * F.col("m2")
                    - F.col("s_c") * F.col("s_c")
                ).cast("double")
                / (F.col("m2") * F.col("m2")),
            ).alias("q_contrib"),
        )
    )

_LOUVAIN_CC_ROUNDS = 8  # merge-forest contraction unroll (jumped: 2^8 depth)


def _louvain_oracle() -> str:
    """Unrolled oracle for graph_louvain_move: gain table -> argmax merge
    edges -> min-label weak components WITH pointer jumping per round
    (the merge forest is chain-shaped, so plain propagation depth is the
    chain length; the jump squares resolved depth per round exactly as
    _min_label_loop does) -> graph_modularity's per-community scoring."""
    sql = _EDGES_CTE + f"""
    , deg AS MATERIALIZED (
        SELECT src AS node, CAST(SUM(w) AS BIGINT) AS k FROM edges GROUP BY src)
    , mm AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM edges)
    , mv AS MATERIALIZED (
        SELECT src AS node, dst AS tgt FROM (
          SELECT e.src, e.dst,
                 (SELECT m2 FROM mm) * e.w - da.k * db.k AS gain,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.src
                   ORDER BY (SELECT m2 FROM mm) * e.w - da.k * db.k DESC,
                            e.dst) AS rn
          FROM edges e
          JOIN deg da ON da.node = e.src
          JOIN deg db ON db.node = e.dst
        ) WHERE rn = 1 AND gain > 0)
    , medges AS MATERIALIZED (
        SELECT node AS src, tgt AS dst FROM mv
        UNION ALL
        SELECT tgt AS src, node AS dst FROM mv)
    , c0 AS (SELECT node, node AS lbl FROM deg)"""
    # Unroll generated from _LOUVAIN_CC_ROUNDS so the oracle's resolved
    # depth and the engine's convergence bound share ONE constant
    # (ADVICE r10: a merge-forest chain deeper than a pasted unroll
    # would make the ORACLE the diverging side).
    for r in range(1, _LOUVAIN_CC_ROUNDS + 1):
        sql += f"""
    , p{r} AS MATERIALIZED (
      SELECT node, MIN(lbl) AS lbl FROM (
        SELECT node, lbl FROM c{r - 1}
        UNION ALL
        SELECT me.dst AS node, c.lbl FROM c{r - 1} c JOIN medges me ON me.src = c.node
      ) GROUP BY node)
    , c{r} AS MATERIALIZED (
      SELECT x.node, y.lbl FROM p{r} x JOIN p{r} y ON x.lbl = y.node)"""
    sql += f"""
    , comm AS MATERIALIZED (
        SELECT c.node, c.lbl AS community, d.k
        FROM c{_LOUVAIN_CC_ROUNDS} c JOIN deg d ON d.node = c.node)
    , tot AS (
        SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(k) AS BIGINT) AS s_c
        FROM comm GROUP BY community)
    , win AS (
        SELECT ca.community, CAST(SUM(e.w) AS BIGINT) AS w_in
        FROM edges e
        JOIN comm ca ON e.src = ca.node
        JOIN comm cb ON e.dst = cb.node
        WHERE ca.community = cb.community
        GROUP BY ca.community)
    SELECT t.community, t.n_nodes, COALESCE(w.w_in, 0) AS w_in, t.s_c,
           CAST(ROUND((COALESCE(w.w_in, 0) * m.m2 - t.s_c * t.s_c) * 1.0
                      / (m.m2 * m.m2), 9) AS DOUBLE) AS q_contrib
    FROM tot t LEFT JOIN win w ON t.community = w.community CROSS JOIN mm m
    """
    return sql


@query("graph_louvain_move", oracle=_louvain_oracle())
def graph_louvain_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain level 1, deterministic parallel form: every node computes
    Newman's move gain for each neighbor ON THE INITIAL SINGLETON
    PARTITION (dQ x 2m^2 = m2*w_ij - k_i*k_j, pure int64 - both engines
    rank identically, no float gain), adopts its argmax-gain neighbor
    (ties -> smallest id, only if gain > 0), and the level's communities
    are the weak components of the resulting merge forest - the
    agglomerative contraction step of parallel Louvain (sequential
    Louvain's visit-order dependence is exactly what this replaces;
    naive synchronous adoption without the component contraction leaves
    i<->j swap artifacts). The partition is then scored with
    graph_modularity's exact per-community arithmetic, so the two
    operators are directly comparable (LPA partition vs Louvain-merge
    partition on the same graph).

    Scale shape: the gain table is ONE pass over the cached edge list
    with two |nodes|-sized degree joins; the argmax is a src-partitioned
    window; contraction runs _min_label_loop's pointer-jumped min-label
    propagation on the |nodes|-sized merge forest (O(log depth) rounds,
    checkpoint per round); scoring is graph_modularity's broadcast
    pattern. Nothing touches the fact table after the shared edge build;
    w_in*m2 <= (2m)^2 stays well inside int64 at 1000x (the
    graph_modularity bound)."""
    return _louvain_level(spark, _edges(spark, sf_dir))


def _louvain_level(spark: SparkSession, e: DataFrame) -> DataFrame:
    """Core of graph_louvain_move over any both-direction weighted edge
    frame (src, dst, w) — split out (the _pair_support pattern) so
    property tests can hand-verify the gain/merge/contraction chain on
    constructed graphs (two triangles + a weak bridge, swap pairs)."""
    deg = e.groupBy("src").agg(F.sum("w").cast("bigint").alias("k"))
    m2 = e.agg(F.sum("w").cast("bigint").alias("m2"))
    cand = (
        e.join(F.broadcast(deg.select(F.col("src").alias("n_a"),
                                      F.col("k").alias("k_a"))),
               e.src == F.col("n_a"))
        .join(F.broadcast(deg.select(F.col("src").alias("n_b"),
                                     F.col("k").alias("k_b"))),
              e.dst == F.col("n_b"))
        .crossJoin(F.broadcast(m2))
        .select(
            "src", "dst",
            (F.col("m2") * F.col("w") - F.col("k_a") * F.col("k_b")).alias("gain"),
        )
    )
    wm = Window.partitionBy("src").orderBy(F.col("gain").desc(), F.col("dst"))
    mv = (
        cand.withColumn("rn", F.row_number().over(wm))
        .filter((F.col("rn") == 1) & (F.col("gain") > 0))
        .select(F.col("src").alias("node"), F.col("dst").alias("tgt"))
    )
    medges = mv.select(F.col("node").alias("src"), F.col("tgt").alias("dst")).unionByName(
        mv.select(F.col("tgt").alias("src"), F.col("node").alias("dst"))
    )
    medges = medges.localCheckpoint()
    cc = _min_label_loop(
        medges.select(F.col("src").alias("node")).distinct(),
        medges,
        _LOUVAIN_CC_ROUNDS,
        "graph_louvain_move",
    )
    lab = (
        deg.select(F.col("src").alias("node"), "k")
        .join(cc, "node", "left")
        .select(
            "node", "k",
            F.coalesce(F.col("lbl"), F.col("node")).alias("community"),
        )
        .localCheckpoint()  # feeds tot + both w_in endpoint joins
    )
    tot = lab.groupBy("community").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("k").cast("bigint").alias("s_c"),
    )
    ls = lab.select(F.col("node").alias("sn"), F.col("community").alias("sc"))
    ld = lab.select(F.col("node").alias("dn"), F.col("community").alias("dc"))
    win = (
        e.join(F.broadcast(ls), e.src == F.col("sn"))
        .join(F.broadcast(ld), e.dst == F.col("dn"))
        .where(F.col("sc") == F.col("dc"))
        .groupBy(F.col("sc").alias("community"))
        .agg(F.sum("w").cast("bigint").alias("w_in"))
    )
    return (
        tot.join(F.broadcast(win), "community", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("w_in"), F.lit(0)).cast("bigint").alias("w_in"),
            "s_c",
            round_dp(
                (
                    F.coalesce(F.col("w_in"), F.lit(0)) * F.col("m2")
                    - F.col("s_c") * F.col("s_c")
                ).cast("double")
                / (F.col("m2") * F.col("m2")),
            ).alias("q_contrib"),
        )
    )



@query(
    "graph_clustering_coef",
    oracle=_EDGES_CTE
    + """
    , tri AS (
      SELECT p1.pa AS a, p1.pb AS b, p2.pb AS c
      FROM pairs p1
      JOIN pairs p2 ON p1.pb = p2.pa
      JOIN pairs p3 ON p3.pa = p1.pa AND p3.pb = p2.pb
    ),
    pertex AS (
      SELECT a AS node FROM tri UNION ALL
      SELECT b FROM tri UNION ALL
      SELECT c FROM tri
    ),
    tc AS (SELECT node, COUNT(*) AS n_tri FROM pertex GROUP BY node),
    deg AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src)
    SELECT d.node, d.degree, COALESCE(t.n_tri, 0) AS n_triangles,
           CAST(ROUND(CASE WHEN d.degree >= 2
                THEN 2.0 * COALESCE(t.n_tri, 0) / (d.degree * (d.degree - 1))
                ELSE 0.0 END, 9) AS DOUBLE) AS clustering_coef
    FROM deg d LEFT JOIN tc t ON d.node = t.node
    """,
)
def graph_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex: cc(v) = 2·T(v) /
    (deg(v)·(deg(v)−1)) — how close v's neighborhood is to a clique
    (the transitivity signal community and fraud pipelines threshold
    on). Composes two already-cached products: the per-node triangle
    count (graph_triangles — ordered enumeration over the canonical
    pair cache, never a 3-way full self-join of the directed table) and
    the degree table; both are |nodes|-sized, so the combining join
    broadcasts. T and deg are exact ints; the single double division
    rounds 9dp."""
    tri = graph_triangles(spark, sf_dir).select(
        F.col("node").alias("t_node"), F.col("n_triangles").alias("n_tri")
    )
    deg = (
        _edges(spark, sf_dir)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(
        F.broadcast(tri), deg.node == F.col("t_node"), "left"
    ).select(
        "node",
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
        round_dp(
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(0.0),
        ).alias("clustering_coef"),
    )


_BETWEENNESS_SEED_PRED = "src % 250 = 0"
_BETWEENNESS_DEPTH = 3


def _betweenness_oracle() -> str:
    sql = _EDGES_CTE + f"""
    , v0 AS (SELECT DISTINCT src AS seed, src AS node, CAST(1 AS BIGINT) AS sigma
             FROM edges WHERE {_BETWEENNESS_SEED_PRED})"""
    vis = ["v0"]
    for lv in range(1, _BETWEENNESS_DEPTH + 1):
        prev = vis[-1]
        visited_union = " UNION ALL ".join(
            f"SELECT seed, node FROM {v}" for v in vis
        )
        sql += f"""
    , l{lv} AS MATERIALIZED (
      SELECT f.seed, e.dst AS node, SUM(f.sigma) AS sigma
      FROM {prev} f JOIN edges e ON e.src = f.node
      WHERE NOT EXISTS (
        SELECT 1 FROM ({visited_union}) v
        WHERE v.seed = f.seed AND v.node = e.dst)
      GROUP BY f.seed, e.dst
    )"""
        vis.append(f"l{lv}")
    # Dependency deltas live in int64 nano-units (DELTA_SCALE): each
    # per-successor contribution is floored to an integer once, so both
    # the per-(seed,pred) accumulation and the final per-node fold
    # across seeds are plain integer SUMs — order-independent, O(1) agg
    # state (no sorted collect_list fold; DuckDB SUM(BIGINT) is exact
    # HUGEINT). The ratio sigma_p/sigma_w and the (1 + delta) factor
    # are IEEE ops on identical exact-int inputs in both engines.
    sql += f"""
    , d{_BETWEENNESS_DEPTH} AS (
      SELECT seed, node, sigma, CAST(0 AS BIGINT) AS dq
      FROM l{_BETWEENNESS_DEPTH})"""
    for lv in range(_BETWEENNESS_DEPTH - 1, 0, -1):
        sql += f"""
    , a{lv} AS MATERIALIZED (
      SELECT w.seed, p.node,
             CAST(SUM(CAST(FLOOR((CAST(p.sigma AS DOUBLE) / w.sigma)
                    * (1.0 + w.dq / {float(DELTA_SCALE)})
                    * {float(DELTA_SCALE)}) AS BIGINT)) AS BIGINT) AS dq
      FROM d{lv + 1} w
      JOIN edges e ON e.dst = w.node
      JOIN l{lv} p ON p.seed = w.seed AND p.node = e.src
      GROUP BY w.seed, p.node
    ),
    d{lv} AS (
      SELECT p.seed, p.node, p.sigma, COALESCE(a.dq, 0) AS dq
      FROM l{lv} p LEFT JOIN a{lv} a
        ON a.seed = p.seed AND a.node = p.node
    )"""
    union = " UNION ALL ".join(
        f"SELECT seed, node, dq FROM d{lv}"
        for lv in range(1, _BETWEENNESS_DEPTH + 1)
    )
    return sql + f"""
    SELECT node, COUNT(*) AS n_seeds,
           CAST(SUM(dq) AS DOUBLE) / {float(DELTA_SCALE)} AS betweenness
    FROM ({union}) GROUP BY node"""


@query("graph_betweenness", oracle=_betweenness_oracle())
def graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled betweenness centrality (Brandes' dependency accumulation,
    depth-limited): per-seed BFS from the same deterministic ~|V|/250
    sample as graph_closeness computes shortest-path counts sigma (exact
    int64 — layer-wise sums of predecessor sigmas), then the backward
    pass folds delta(v) = sum sigma_v/sigma_w * (1 + delta_w) over each
    layer's successors; bc(v) = sum of per-seed deltas. The bridge/
    broker signal fraud and infrastructure teams rank by.

    Determinism + hub safety: sigma is integer arithmetic; dependency
    deltas live in exact int64 nano-units (DELTA_SCALE) — each
    per-successor contribution sigma_v/sigma_w · (1 + delta_w) is one
    chain of IEEE ops on exact-int inputs, floored to an integer ONCE,
    so both the per-(seed,pred) accumulation and the final per-node
    fold across seeds are plain integer SUMs (order-independent,
    map-side combinable, O(1) agg state — never a per-node
    contribution array, the quantized-sum posture of agg_time_decay).
    Spark sums in DECIMAL(38,0) to match DuckDB's exact HUGEINT at any
    fan-in; quantization error ≤ successors/DELTA_SCALE per level.

    Scale shape: forward state is |seeds| x reach (never |V|^2) exactly
    like graph_closeness; the backward pass touches only (frontier x
    edges) per layer with a fixed depth, and everything runs on the
    shared cached edge table. Seed count is the precision/cost dial
    (error ~ 1/sqrt(seeds), Brandes-Pich sampling)."""
    edges = _edges(spark, sf_dir).select("src", "dst")
    v0 = (
        edges.filter(F.expr(_BETWEENNESS_SEED_PRED))
        .select(F.col("src").alias("seed"), F.col("src").alias("node"))
        .distinct()
        .withColumn("sigma", F.lit(1).cast("bigint"))
    )
    levels = [v0]
    vis = v0.select("seed", "node")
    for _ in range(_BETWEENNESS_DEPTH):
        fr = levels[-1]
        cand = fr.join(edges, fr.node == edges.src).select(
            "seed", F.col("dst").alias("node"), "sigma"
        )
        new = (
            cand.join(vis, ["seed", "node"], "left_anti")
            .groupBy("seed", "node")
            .agg(F.sum("sigma").alias("sigma"))
        )
        levels.append(new)
        vis = vis.unionByName(new.select("seed", "node"))

    dscale = F.lit(float(DELTA_SCALE))
    deltas = {
        _BETWEENNESS_DEPTH: levels[_BETWEENNESS_DEPTH].withColumn(
            "dq", F.lit(0).cast("long")
        )
    }
    for lv in range(_BETWEENNESS_DEPTH - 1, 0, -1):
        w = deltas[lv + 1].alias("w")
        p = levels[lv].alias("p")
        cq = F.floor(
            (F.col("p.sigma").cast("double") / F.col("w.sigma"))
            * (F.lit(1.0) + F.col("w.dq") / dscale)
            * dscale
        ).cast("long")
        acc = (
            w.join(edges.alias("e"), F.col("w.node") == F.col("e.dst"))
            .join(
                p,
                (F.col("p.seed") == F.col("w.seed"))
                & (F.col("p.node") == F.col("e.src")),
            )
            .select(
                F.col("w.seed").alias("seed"),
                F.col("p.node").alias("node"),
                cq.alias("cq"),
            )
            .groupBy("seed", "node")
            .agg(
                F.sum(F.col("cq").cast("decimal(38,0)"))
                .cast("long")
                .alias("dq")
            )
        )
        deltas[lv] = (
            levels[lv]
            .join(acc, ["seed", "node"], "left")
            .select(
                "seed",
                "node",
                "sigma",
                F.coalesce("dq", F.lit(0)).cast("long").alias("dq"),
            )
        )
    allv = deltas[1].select("seed", "node", "dq")
    for lv in range(2, _BETWEENNESS_DEPTH + 1):
        allv = allv.unionByName(deltas[lv].select("seed", "node", "dq"))
    return allv.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_seeds"),
        (F.sum(F.col("dq").cast("decimal(38,0)")).cast("double") / dscale).alias(
            "betweenness"
        ),
    )


DIAM_DEPTH = 8  # BFS horizon per sweep (documented bound, like SSSP's 6)


def _diam_oracle() -> str:
    def unroll(tag: str, seed_cte: str) -> str:
        sql = f"\n    , {tag}0 AS (SELECT DISTINCT src AS node, 0 AS dist FROM edges WHERE src = ({seed_cte}))"
        for r in range(1, DIAM_DEPTH + 1):
            sql += f"""
    , {tag}{r} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM {tag}{r - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM {tag}{r - 1} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )"""
        return sql

    return (
        _EDGES_CTE
        + unroll("a", "SELECT MIN(src) FROM edges")
        + f"""
    , far AS (SELECT node FROM a{DIAM_DEPTH}
              ORDER BY dist DESC, node LIMIT 1)"""
        + unroll("b", "SELECT node FROM far")
        + f"""
    SELECT (SELECT MIN(src) FROM edges) AS sweep1_seed,
           (SELECT node FROM far) AS peripheral_node,
           CAST(MAX(dist) AS BIGINT) AS diameter_lb,
           CAST(COUNT(*) AS BIGINT) AS n_reached
    FROM b{DIAM_DEPTH}
    """
    )


@query("graph_diameter_2sweep", oracle=_diam_oracle())
def graph_diameter_2sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diameter lower bound by the double-sweep heuristic (the standard
    cheap estimator — exact diameter is all-pairs BFS, Θ(V·E)): BFS
    from the min-id vertex, hop to the farthest node found (dist DESC,
    node ASC tie-break keeps it deterministic), BFS again from there;
    that eccentricity is a lower bound that is exact on trees and
    near-exact on most real graphs (Magnien-Latapy-Habib). Both sweeps
    run to a FIXED {DIAM_DEPTH}-hop horizon (documented bound, like
    graph_sssp_weighted's 6 rounds) so the oracle unrolls.

    Scale shape: two of the same checkpointed frontier-BFS loops every
    other graph op uses (one join + min-agg per level); the only
    driver-side values are two scalar seeds (bounded collects,
    registry-wide precedent)."""
    edges = _edges(spark, sf_dir)
    seed = edges.agg(F.min("src")).collect()[0][0]
    b1 = _bfs(spark, sf_dir, DIAM_DEPTH, F.col("src") == F.lit(seed))
    far = (
        b1.orderBy(F.col("dist").desc(), F.col("node")).limit(1).collect()[0][0]
    )
    b2 = _bfs(spark, sf_dir, DIAM_DEPTH, F.col("src") == F.lit(far))
    return b2.agg(
        F.lit(seed).cast("bigint").alias("sweep1_seed"),
        F.lit(far).cast("bigint").alias("peripheral_node"),
        F.max("dist").cast("bigint").alias("diameter_lb"),
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
    )


@query(
    "graph_assortativity",
    # Degree assortativity (Newman): Pearson correlation of (deg(src),
    # deg(dst)) over the directed edge list (both directions present,
    # which is the standard undirected treatment). Degrees are exact
    # int64; all five moments are exact int64 sums over edges; r is one
    # double expression of the exact moments, sqrt rounded 9dp.
    oracle=_EDGES_CTE
    + """
    , deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
    de AS (
      SELECT da.d AS x, db.d AS y
      FROM edges e
      JOIN deg da ON e.src = da.node
      JOIN deg db ON e.dst = db.node),
    m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM de)
    SELECT CAST(n AS BIGINT) AS n_edges,
           CAST(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN ROUND((n * sxy - sx * sy) /
                     SQRT(CAST(n * sxx - sx * sx AS DOUBLE) *
                          CAST(n * syy - sy * sy AS DOUBLE)), 9)
                ELSE 0.0 END AS DOUBLE) AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman) of the co-purchase
    graph — do hubs attach to hubs (r > 0, social-network-like) or to
    leaves (r < 0, technological/citation-like)? One number that
    separates graph families; the standard companion to the degree
    distribution and clustering coefficient already in §2.9.

    Scale shape: the |V|-row degree table BROADCASTS onto the edge list
    twice (edges never shuffle); the five Pearson moments are exact
    int64 edge sums (one map-side-combinable agg), and r is one double
    expression, sqrt 9dp — the win_rolling_corr/time_acf exact-moment
    contract on the graph surface. Int64 headroom: Σ d_src·d_dst ≤
    (max deg)²·|E|."""
    edges = _edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    de = (
        edges.join(
            F.broadcast(deg.select(F.col("node").alias("src"), F.col("d").alias("x"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))),
            "dst",
        )
        .select("x", "y")
    )
    m = de.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = round_dp(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(vx.cast("double") * vy.cast("double")),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_edges"),
        F.when((vx > 0) & (vy > 0), r)
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("assortativity"),
    )


# --- strongly connected components (directed citation-style graph) -------

# Outer peel rounds. Every round provably extracts at least the SCC of
# the globally-minimal remaining node (its color is itself and it
# trivially reaches itself), so the peel always progresses; 30 bounds
# the CONDENSATION-DAG PEEL DEPTH, i.e. how many extract-and-retrim
# waves the SCC DAG needs to drain (2 on the driver fixture). Graphs
# whose condensation is a deep chain of non-trivial SCCs can exceed it —
# the peel then fails LOUDLY (RuntimeError below) rather than returning
# partial components; raise the bound for such shapes. Trim runs to
# fixpoint inside each round, so arbitrarily long acyclic chains drain
# in a single round and never count against this bound.
SCC_MAX_OUTER = 30

# Directed fixture: each undirected co-purchase pair is oriented by the
# high bit of the last md5 nibble of "pa:pb" — deterministic in both
# engines, well-mixed, and cycle-rich (unlike pa<pb, which would yield a
# DAG with only singleton SCCs).
_FLIP_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def _scc_oracle() -> str:
    """DuckDB twin: exact transitive closure (WITH RECURSIVE, UNION
    dedup), scc(v) = min over mutually-reachable partners (self
    included). Exact at sf0.01 verification scale; the Spark side is the
    scalable algorithm."""
    flips = ", ".join(f"'{h}'" for h in _FLIP_HEX)
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SUPPORT}
    ),
    dedges AS MATERIALIZED (
      SELECT CASE WHEN flip THEN pb ELSE pa END AS src,
             CASE WHEN flip THEN pa ELSE pb END AS dst
      FROM (SELECT pa, pb,
              substr(md5(pa || ':' || pb), 32, 1) IN ({flips}) AS flip
            FROM pairs)
    ),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM dedges UNION SELECT dst FROM dedges
    ),
    reach AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM dedges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN dedges e ON r.b = e.src
    ),
    m AS (
      SELECT n.node,
             COALESCE(MIN(CASE WHEN r2.a IS NOT NULL THEN r1.b END),
                      n.node) AS mp
      FROM nodes n
      LEFT JOIN reach r1 ON r1.a = n.node
      LEFT JOIN reach r2 ON r2.a = r1.b AND r2.b = n.node
      GROUP BY n.node
    )
    SELECT node, LEAST(node, mp) AS scc FROM m
    """


def _scc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _pairs(spark, sf_dir)
    flip = F.substring(
        F.md5(F.concat_ws(":", F.col("pa"), F.col("pb"))), 32, 1
    ).isin(*_FLIP_HEX)
    return p.select(
        F.when(flip, F.col("pb")).otherwise(F.col("pa")).alias("src"),
        F.when(flip, F.col("pa")).otherwise(F.col("pb")).alias("dst"),
    )


DMIN_MAX_ROUNDS = 64  # directed min-propagation bound (graph_scc)


@query("graph_scc", oracle=_scc_oracle())
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED co-purchase graph
    (md5-oriented edges — the citation-network analog the reference
    domain implies: a patent cites earlier patents, and SCC condensation
    is the canonical structure query on such graphs).

    Algorithm — trim + forward-coloring + backward-confirm peel (the
    FW-BW-MIN / Orzan coloring family, the standard distributed SCC):
    each outer round (1) TRIMS nodes with no in-edge or no out-edge in
    the remaining graph (they cannot lie on a cycle → singleton SCCs,
    scc=self); (2) colors every remaining node with its min ancestor
    via the pointer-jumped directed min-propagation loop (_min_label_loop,
    O(log path) rounds); (3) confirms membership by running the same
    loop on the CLASS-RESTRICTED REVERSED edges — d(v) = min same-color
    node reachable FROM v; d(v) == color(v) ⇔ v reaches its color root
    r ⇔ v ∈ SCC(r) (color(v)=r already gives r ⇝ v, and every node on
    a v⇝r path provably has color r, so the class restriction loses
    nothing); extracted SCCs leave the graph and the peel repeats.
    Every color root's full SCC is extracted each round, so rounds are
    bounded by the condensation-DAG peel depth (2 on this fixture: the
    giant SCC + trimmed residue).

    Scale shape: no transitive closure is ever materialized (the oracle
    does that — exact but quadratic — at sf0.01 verification scale
    only); every step is an equi-join on node id over the remaining
    edge list, label tables are one row per node, and localCheckpoint
    truncates lineage per round. The fixpoint (min mutual-reach partner
    per node) is schedule-independent, so parallelism never changes the
    answer."""
    edges0 = _scc_edges(spark, sf_dir)
    nodes = (
        edges0.select(F.col("src").alias("node"))
        .unionByName(edges0.select(F.col("dst").alias("node")))
        .distinct()
    )
    return _scc_peel(nodes, edges0)


def _both_roles(edges: DataFrame) -> DataFrame:
    """Nodes appearing as BOTH src and dst of ``edges`` — the survivors
    of one trim step. One shuffle: both endpoint roles aggregate in a
    single groupBy instead of two distinct+join."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.lit(1).alias("o"),
                        F.lit(0).alias("i"),
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.lit(0).alias("o"),
                        F.lit(1).alias("i"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .groupBy("node")
        .agg(F.max("o").alias("has_out"), F.max("i").alias("has_in"))
        .filter((F.col("has_out") == 1) & (F.col("has_in") == 1))
        .select("node")
    )


def _scc_peel(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """FW-BW-MIN trim+color+confirm peel over (nodes, edges) frames.
    ``nodes`` must contain every edge endpoint (extra isolated nodes are
    fine). Factored out of graph_scc so property tests can drive it on
    arbitrary synthetic digraphs (brute-force Tarjan comparison,
    adversarial id orientations).

    The loop is EDGE-DRIVEN: every node a trim drops or a drain strands
    is a singleton SCC (a non-trivial SCC's cycle edges survive every
    trim, by induction: both endpoints of a cycle edge always retain in
    and out via the cycle), so singletons need no per-iteration
    bookkeeping — they are ``all_nodes MINUS every confirmed node``,
    computed once at the end. Trim runs to EDGE fixpoint (edge sets
    shrink monotonically, so an unchanged count means the step was a
    no-op), which drains any acyclic region in one outer round.

    The peel's dozens of micro-shuffles run on label/edge frames that
    never grow, so their shuffle-partition count is sized to the
    OBSERVED edge count (~50k edges per partition, capped at the
    session setting) instead of the session default — the iterative
    twin of AQE's post-shuffle coalescing, which cannot see across the
    per-round checkpoints. At real scale the cap keeps the session's
    parallelism; on small residual graphs it stops 32-task scheduling
    overhead from dominating every one of the O(rounds) tiny stages."""
    spark = edges.sparkSession
    all_nodes = nodes.localCheckpoint()
    edges, seen = checkpoint(edges, n=F.count(F.lit(1)))
    ecnt = seen["n"]
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    loop_parts = max(1, min(sess_parts, ecnt // 50_000 + 1))
    with conf_scope(spark, {"spark.sql.shuffle.partitions": str(loop_parts)}):
        return _scc_peel_rounds(all_nodes, edges, ecnt)


def _scc_peel_rounds(
    all_nodes: DataFrame, edges: DataFrame, ecnt: int
) -> DataFrame:
    parts: list[DataFrame] = []
    for _ in range(SCC_MAX_OUTER):
        # (1) trim TO FIXPOINT: a node missing either edge direction is
        # acyclic; removing it can expose more, so repeat to fixpoint.
        while ecnt > 0:
            keep = _both_roles(edges)
            edges, seen = checkpoint(
                edges.join(
                    keep.select(F.col("node").alias("src")), "src", "left_semi"
                )
                .join(
                    keep.select(F.col("node").alias("dst")), "dst", "left_semi"
                )
                .select("src", "dst"),
                n=F.count(F.lit(1)),
            )
            if seen["n"] == ecnt:
                break
            ecnt = seen["n"]
        if ecnt == 0:
            break
        survivors = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint()
        )
        # (2) forward color: min ancestor per remaining node
        color = _min_label_loop(survivors, edges, DMIN_MAX_ROUNDS, "graph_scc")
        # (3) backward confirm within color class
        ce = (
            edges.join(
                color.select(
                    F.col("node").alias("src"), F.col("lbl").alias("cs")
                ),
                "src",
            )
            .join(
                color.select(
                    F.col("node").alias("dst"), F.col("lbl").alias("cd")
                ),
                "dst",
            )
            .filter(F.col("cs") == F.col("cd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            # checkpoint: _min_label_loop touches its edge input every
            # round — without this the class-restriction joins
            # would re-execute per inner round
            .localCheckpoint()
        )
        d = _min_label_loop(survivors, ce, DMIN_MAX_ROUNDS, "graph_scc")
        found = (
            color.join(d.withColumnRenamed("lbl", "dlbl"), "node")
            .filter(F.col("lbl") == F.col("dlbl"))
            .select("node", F.col("lbl").alias("scc"))
            # reused by the result union and both edge anti-joins
            .localCheckpoint()
        )
        parts.append(found)
        edges, seen = checkpoint(
            edges.join(
                found.select(F.col("node").alias("src")), "src", "left_anti"
            )
            .join(
                found.select(F.col("node").alias("dst")), "dst", "left_anti"
            )
            .select("src", "dst"),
            n=F.count(F.lit(1)),
        )
        ecnt = seen["n"]
        if ecnt == 0:
            break
    else:
        raise RuntimeError(
            "graph_scc: peel did not drain the graph within "
            f"{SCC_MAX_OUTER} rounds (condensation deeper than the "
            "bound — see SCC_MAX_OUTER)"
        )
    confirmed = None
    for p in parts:
        confirmed = p if confirmed is None else confirmed.unionByName(p)
    if confirmed is None:
        return all_nodes.select("node", F.col("node").alias("scc"))
    singletons = all_nodes.join(
        confirmed.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("scc"))
    return confirmed.select("node", "scc").unionByName(singletons)


_HYPERBALL_RADIUS = 3


@query(
    "graph_hyperball",
    # HyperBall (Boldi/Vigna): per-node reachable-set size at radius 3
    # via HLL counters union-folded along edges. DuckDB has no
    # DataSketches HLL, so (the agg_hll_sketch oracle contract) the
    # hashed values are the EXACT per-node 3-hop reach plus an
    # estimate-accuracy flag the Spark side validates in-query (lgK=12,
    # rse ~1.6%; reaches here are <= hundreds, where the sketch runs in
    # near-exact sparse mode — a 10% bound is ultra-conservative and
    # stable). A regression in sketch init/union/estimate flips flags
    # and fails the hash.
    oracle=_EDGES_CTE + """
    , d0 AS (SELECT DISTINCT src AS seed, src AS node FROM edges),
    d1 AS MATERIALIZED (
      SELECT seed, node FROM d0
      UNION SELECT d.seed, e.dst FROM d0 d JOIN edges e ON e.src = d.node),
    d2 AS MATERIALIZED (
      SELECT seed, node FROM d1
      UNION SELECT d.seed, e.dst FROM d1 d JOIN edges e ON e.src = d.node),
    d3 AS MATERIALIZED (
      SELECT seed, node FROM d2
      UNION SELECT d.seed, e.dst FROM d2 d JOIN edges e ON e.src = d.node)
    SELECT seed AS node, COUNT(*) AS exact_reach3, TRUE AS est_within_10pct
    FROM d3 GROUP BY seed
    """,
)
def graph_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall — the neighborhood function at web scale (Boldi &
    Vigna; the algorithm behind the Facebook four-degrees measurement):
    each node carries an HLL counter of its reachable set, and one
    round of B(v,t+1) = B(v,t) ∪ ⋃_{v→w} B(w,t) is a join + sketch
    union per edge. After r rounds the counter estimates |reach_r(v)|
    — per-node state is a KB-sized sketch instead of the reached-set
    itself, which is THE difference between O(V·reach) memory (the
    exact frontier table) and O(V) sketches at 10⁹ nodes: effective
    diameter, neighborhood growth curves, and harmonic-centrality
    estimates all read off these counters.

    Validation (test-SF grounding, the vec_ann_recall pattern): the
    exact 3-hop reach rides the frontier-expansion loop the oracle
    unrolls, and every estimate must land within 10% of it — the flags
    are hashed, the estimates are not (DuckDB cannot replicate
    DataSketches); at these reach sizes the sketch is in sparse mode
    and effectively exact."""
    edges = _edges(spark, sf_dir).select("src", "dst")
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # HLL state: B(v, 0) = {v}
    state = nodes.groupBy("node").agg(
        F.hll_sketch_agg("node", F.lit(12)).alias("sk")
    )
    for _ in range(_HYPERBALL_RADIUS):
        contrib = edges.join(state, edges.dst == state.node).select(
            edges.src.alias("node"), "sk"
        )
        state = (
            state.unionByName(contrib)
            .groupBy("node")
            .agg(F.hll_union_agg("sk").alias("sk"))
            .localCheckpoint()
        )
    est = state.select(
        "node", F.hll_sketch_estimate("sk").alias("est_reach3")
    )
    # exact twin for the hashed in-query grounding
    reached = nodes.select(F.col("node").alias("seed"), "node")
    for _ in range(_HYPERBALL_RADIUS):
        expanded = reached.join(edges, reached.node == edges.src).select(
            "seed", F.col("dst").alias("node")
        )
        reached = reached.unionByName(expanded).distinct().localCheckpoint()
    exact = reached.groupBy("seed").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_reach3")
    )
    return (
        exact.join(est, exact.seed == est.node)
        .select(
            F.col("seed").alias("node"),
            "exact_reach3",
            (
                F.abs(F.col("est_reach3") - F.col("exact_reach3"))
                <= 0.10 * F.col("exact_reach3")
            ).alias("est_within_10pct"),
        )
    )


_PATHCOUNT_DEPTH = 3
_PATHCOUNT_SEED_PRED = "src % 500 = 0"


def _path_count_oracle() -> str:
    sql = _EDGES_CTE + f"""
    , dag AS (SELECT src, dst FROM edges WHERE src < dst),
    seeds AS (SELECT DISTINCT src AS node FROM dag
              WHERE {_PATHCOUNT_SEED_PRED}),
    p1 AS MATERIALIZED (
      SELECT d.dst AS node, CAST(COUNT(*) AS BIGINT) AS c
      FROM dag d JOIN seeds s ON d.src = s.node GROUP BY d.dst)"""
    for r in range(2, _PATHCOUNT_DEPTH + 1):
        sql += f"""
    , p{r} AS MATERIALIZED (
      SELECT d.dst AS node, CAST(SUM(p.c) AS BIGINT) AS c
      FROM p{r - 1} p JOIN dag d ON d.src = p.node GROUP BY d.dst)"""
    cols = ", ".join(
        f"COALESCE(p{r}.c, 0) AS n_paths_{r}"
        for r in range(1, _PATHCOUNT_DEPTH + 1)
    )
    joins = " ".join(
        f"FULL OUTER JOIN p{r} ON nodes.node = p{r}.node"
        for r in range(1, _PATHCOUNT_DEPTH + 1)
    )
    total = " + ".join(
        f"COALESCE(p{r}.c, 0)" for r in range(1, _PATHCOUNT_DEPTH + 1)
    )
    return sql + f"""
    , nodes AS (SELECT DISTINCT node FROM (
        SELECT node FROM p1 UNION ALL SELECT node FROM p2
        UNION ALL SELECT node FROM p3))
    SELECT nodes.node, {cols}, CAST({total} AS BIGINT) AS n_paths_total
    FROM nodes {joins}"""


@query("graph_path_count_dag", oracle=_path_count_oracle())
def graph_path_count_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact path COUNTING on the DAG half of the co-purchase graph
    (src < dst orients every edge low->high, so the subgraph is acyclic
    by construction): the number of distinct seed-to-node paths of
    length 1, 2, 3 — reachability's quantitative sibling
    (graph_bfs_khop answers CAN we reach it; this answers HOW MANY
    WAYS, the signal citation analysis uses for influence flow and
    provenance multiplicity).

    The recurrence is sparse matrix-vector style: paths_r(v) =
    sum over (u,v) edges of paths_{r-1}(u) — one equi-join + one SUM
    hash agg per level, exact int64 counts (path counts on 3 levels of
    a bounded-degree DAG stay far under 2^63; DECIMAL swap documented
    for deeper unrolls). No frontier dedup is wanted — multiplicity IS
    the quantity — so state per level is one (node, count) row, never
    per-path.

    Scale shape: the shared checkpointed edge cache feeds 3 join+agg
    rounds; counts merge via FULL OUTER on the <=|V| result grid. At
    100 TB the joins shuffle on node id like every other traversal
    here; level state is O(|reached|), not O(paths)."""
    edges = _edges(spark, sf_dir).select("src", "dst").filter(
        F.col("src") < F.col("dst")
    )
    seeds = (
        edges.filter(F.expr(_PATHCOUNT_SEED_PRED))
        .select(F.col("src").alias("node"))
        .distinct()
    )
    levels = []
    p = (
        edges.join(seeds, edges.src == seeds.node)
        .groupBy(edges.dst.alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    levels.append(p)
    for _ in range(2, _PATHCOUNT_DEPTH + 1):
        # alias both sides: p derives from edges, so bare column refs
        # are ambiguous (the dedup_cluster_cc attribute-id lesson)
        p = (
            p.alias("p")
            .join(edges.alias("e"), F.col("p.node") == F.col("e.src"))
            .groupBy(F.col("e.dst").alias("node"))
            .agg(F.sum(F.col("p.c")).cast("bigint").alias("c"))
        )
        levels.append(p)
    out = None
    for r, lv in enumerate(levels, start=1):
        lv = lv.select("node", F.col("c").alias(f"n_paths_{r}"))
        out = lv if out is None else out.join(lv, "node", "full_outer")
    cols = [F.coalesce(F.col(f"n_paths_{r}"), F.lit(0)).cast("bigint")
            for r in range(1, _PATHCOUNT_DEPTH + 1)]
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    return out.select(
        "node",
        *[c.alias(f"n_paths_{r}") for r, c in enumerate(cols, start=1)],
        total.cast("bigint").alias("n_paths_total"),
    )


@query(
    "graph_powerlaw_fit",
    # Power-law exponent MLE for the degree distribution (Clauset-
    # Shalizi-Newman continuous approximation at dmin = 1):
    # alpha = 1 + n / sum ln(2d). The log runs once per DISTINCT
    # degree on the tiny degree-distribution grid (cnt * round(ln,9)
    # nano-quantized -> exact int64 window sum), so the fit is
    # order-independent and grid-sized after one degree agg.
    oracle=_EDGES_CTE + """
    , deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges
              GROUP BY src),
    grid AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt FROM deg GROUP BY d),
    q AS (
      SELECT d, cnt,
             cnt * CAST(ROUND(ROUND(LN(2.0 * d), 9) * 1e9, 0) AS BIGINT)
               AS qln,
             SUM(cnt) OVER () AS n
      FROM grid),
    a AS (
      SELECT MAX(n) AS n, CAST(SUM(qln) AS BIGINT) AS sq,
             CAST(SUM(d * cnt) AS BIGINT) AS sum_deg
      FROM q)
    SELECT CAST(n AS BIGINT) AS n_nodes,
           CAST(ROUND(CAST(sum_deg AS DOUBLE) / n, 9) AS DOUBLE)
             AS mean_degree,
           CAST(ROUND(1.0 + n / (sq / 1e9), 9) AS DOUBLE) AS alpha
    FROM a
    """,
)
def graph_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the degree distribution (the Clauset-
    Shalizi-Newman MLE, continuous approximation at dmin = 1:
    alpha = 1 + n/sum ln(d/(dmin - 1/2))) — the one-number scale-free
    diagnostic next to graph_assortativity and graph_clustering_coef
    (citation graphs are the canonical power-law family; alpha drives
    every skew-handling decision the engine makes for them).

    Scale shape: degrees come from one hash agg over the shared edge
    cache; the log runs once per DISTINCT degree on the degree-
    distribution grid (bounded by max degree, tiny), each grid cell
    contributes cnt * round(ln(2d), 9) in exact nano units, and the
    fold is an order-independent integer sum. A 10^12-edge graph pays
    one degree agg; the fit itself is grid-sized."""
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    grid = deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    q = grid.select(
        "d",
        "cnt",
        (
            F.col("cnt")
            * F.round(round_dp(F.log(2.0 * F.col("d"))) * F.lit(1e9), 0).cast(
                "long"
            )
        ).alias("qln"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    a = q.agg(
        F.max("n").alias("n"),
        F.sum("qln").cast("bigint").alias("sq"),
        F.sum(F.col("d") * F.col("cnt")).cast("bigint").alias("sum_deg"),
    )
    return a.select(
        F.col("n").cast("bigint").alias("n_nodes"),
        round_dp(F.col("sum_deg").cast("double") / F.col("n"))
        .cast("double")
        .alias("mean_degree"),
        round_dp(1.0 + F.col("n") / (F.col("sq") / F.lit(1e9)))
        .cast("double")
        .alias("alpha"),
    )


_RICHCLUB_KS = (2, 5, 10)


def _richclub_oracle() -> str:
    per_k = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({k} AS BIGINT) AS k,
           (SELECT COUNT(*) FROM deg WHERE d > {k}) AS n_rich,
           (SELECT COUNT(*) FROM e2
            WHERE sd > {k} AND dd > {k} AND src < dst) AS e_rich"""
        for k in _RICHCLUB_KS
    )
    return _EDGES_CTE + f"""
    , deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges
              GROUP BY src),
    e2 AS (
      SELECT e.src, e.dst, ds.d AS sd, dd.d AS dd
      FROM edges e JOIN deg ds ON e.src = ds.src
                   JOIN deg dd ON e.dst = dd.src),
    pk AS ({per_k})
    SELECT k, CAST(n_rich AS BIGINT) AS n_rich,
           CAST(e_rich AS BIGINT) AS e_rich,
           CAST(CASE WHEN n_rich >= 2
                THEN ROUND(2.0 * e_rich / (n_rich * (n_rich - 1.0)), 9)
                ELSE 0.0 END AS DOUBLE) AS phi
    FROM pk
    """


@query("graph_richclub", oracle=_richclub_oracle())
def graph_richclub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) — do high-degree nodes link to
    each other more than chance? (The elite-interconnection diagnostic
    beside graph_assortativity's global degree correlation; in
    citation graphs a strong rich club marks the canonical-papers
    core.) phi(k) = 2*E_k / (N_k*(N_k-1)) over the subgraph of nodes
    with degree > k, evaluated at k in {2, 5, 10}.

    Scale shape: ONE degree agg over the shared edge cache, degrees
    joined back onto edges (two hash joins on node id), then each k is
    a pure counting filter — no subgraph materializes, no quadratic
    step; the undirected edge count uses the src < dst half. Exact
    integer counts, one division per k, 9dp."""
    edges = _edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    e2 = (
        edges.join(
            deg.select(F.col("src").alias("s"), F.col("d").alias("sd")),
            edges.src == F.col("s"),
        )
        .join(
            deg.select(F.col("src").alias("t"), F.col("d").alias("dd")),
            edges.dst == F.col("t"),
        )
        .select("src", "dst", "sd", "dd")
    )
    parts = []
    for k in _RICHCLUB_KS:
        n_rich = deg.filter(F.col("d") > k).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rich")
        )
        e_rich = e2.filter(
            (F.col("sd") > k) & (F.col("dd") > k) & (F.col("src") < F.col("dst"))
        ).agg(F.count(F.lit(1)).cast("bigint").alias("e_rich"))
        parts.append(
            n_rich.crossJoin(e_rich).select(
                F.lit(k).cast("bigint").alias("k"), "n_rich", "e_rich"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    phi = F.when(
        F.col("n_rich") >= 2,
        round_dp(
            2.0 * F.col("e_rich") / (F.col("n_rich") * (F.col("n_rich") - 1.0)),
        ),
    ).otherwise(F.lit(0.0))
    return out.select("k", "n_rich", "e_rich", phi.cast("double").alias("phi"))


def _edge_churn_oracle() -> str:
    # Two co-purchase edge sets built from the order-parity halves of
    # the SAME pair pipeline (src < dst canonical form), FULL OUTER on
    # the edge key -> added/removed/stable masses.
    return _EDGES_CTE + """
    , half AS (
      SELECT l.l_partkey AS pk, l.l_orderkey AS ok,
             l.l_orderkey % 2 AS h
      FROM lineitem l),
    pairs2 AS (
      SELECT a.h, a.pk AS src, b.pk AS dst
      FROM half a JOIN half b
        ON a.ok = b.ok AND a.h = b.h AND a.pk < b.pk
      GROUP BY a.h, a.pk, b.pk),
    ea AS (SELECT src, dst FROM pairs2 WHERE h = 0),
    eb AS (SELECT src, dst FROM pairs2 WHERE h = 1),
    fo AS (
      SELECT COALESCE(ea.src, eb.src) AS src,
             COALESCE(ea.dst, eb.dst) AS dst,
             ea.src IS NOT NULL AS in_a, eb.src IS NOT NULL AS in_b
      FROM ea FULL OUTER JOIN eb
        ON ea.src = eb.src AND ea.dst = eb.dst)
    SELECT
      CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
        AS n_stable,
      CAST(SUM(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT)
        AS n_removed,
      CAST(SUM(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
        AS n_added,
      CAST(ROUND(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 9) AS DOUBLE) AS jaccard_stability
    FROM fo
    """


@query("graph_edge_churn", oracle=_edge_churn_oracle())
def graph_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diff / edge churn between two snapshots — the monitoring
    primitive for any periodically rebuilt graph (citation graphs grow;
    an anomalous added/removed edge mass is the first sign of an
    ingest regression): co-purchase edge sets built from the two
    order-parity halves (deterministic snapshot surrogates), FULL
    OUTER joined on the canonical (src < dst) edge key, reporting
    stable/removed/added masses and Jaccard stability.

    Scale shape (r13 rework): each half is the standard pair build
    (self-join within order, canonical direction); the per-half
    DISTINCT, the snapshot diff and the presence flags then all ride
    ONE map-side-combinable groupBy on the canonical edge key
    (in_a = max(h=0), in_b = max(h=1) per edge — exactly the
    full-outer-join presence semantics, without materializing either
    half or shuffling the edge sets twice; the r5-r12 form was
    distinct → localCheckpoint → filter ×2 → FULL OUTER join → agg).
    Never an edge-list cross product; counts are exact integers with
    one 9dp ratio. At 10^12 edges the diff is one edge-key shuffle of
    combine-reduced flag partials."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.col("l_orderkey").alias("ok"),
        (F.col("l_orderkey") % 2).alias("h"),
    )
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
    ).select("a.h", F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
    fo = pairs.groupBy("src", "dst").agg(
        F.max(F.col("h") == 0).alias("in_a"),
        F.max(F.col("h") == 1).alias("in_b"),
    )
    return fo.agg(
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_stable"),
        F.sum(F.when(F.col("in_a") & ~F.col("in_b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.sum(F.when(F.col("in_b") & ~F.col("in_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_added"),
        round_dp(
            F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
            / F.count(F.lit(1)),
        )
        .cast("double")
        .alias("jaccard_stability"),
    )


_SW_SEED_PRED = _CLOSENESS_SEED_PRED  # reuse the closeness seed sample
_SW_DEPTH = _CLOSENESS_DEPTH


def _smallworld_oracle() -> str:
    # Sampled-BFS unroll (the _closeness_oracle pattern) + integer
    # triangle/triad counts; every double below is derived from exact
    # integers through IDENTICAL expressions in both engines.
    sql = _EDGES_CTE + f"""
    , tri AS (
      SELECT p1.pa AS a, p1.pb AS b, p2.pb AS c
      FROM pairs p1
      JOIN pairs p2 ON p1.pb = p2.pa
      JOIN pairs p3 ON p3.pa = p1.pa AND p3.pb = p2.pb),
    t3 AS (SELECT CAST(3 * COUNT(*) AS BIGINT) AS tri3 FROM tri),
    deg AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(degree * (degree - 1)) AS BIGINT) AS triads2,
                  CAST(SUM(degree) AS BIGINT) AS degsum
           FROM deg),
    c0 AS (SELECT DISTINCT src AS seed, src AS node, 0 AS dist
           FROM edges WHERE {_SW_SEED_PRED})"""
    for r in range(1, _SW_DEPTH + 1):
        sql += f"""
    , c{r} AS MATERIALIZED (
      SELECT seed, node, MIN(dist) AS dist FROM (
        SELECT seed, node, dist FROM c{r - 1}
        UNION ALL
        SELECT c.seed, e.dst AS node, c.dist + 1 AS dist
        FROM c{r - 1} c JOIN edges e ON c.node = e.src
      ) GROUP BY seed, node)"""
    return sql + f"""
    , l AS (SELECT CAST(SUM(dist) AS BIGINT) AS sd,
                   CAST(COUNT(*) AS BIGINT) AS np
            FROM c{_SW_DEPTH} WHERE dist > 0)
    SELECT nn.n AS n_nodes,
           CAST(nn.degsum // 2 AS BIGINT) AS n_edges,
           CAST(ROUND(2.0 * t3.tri3 / nn.triads2, 9) AS DOUBLE)
             AS transitivity,
           CAST(ROUND(CAST(l.sd AS DOUBLE) / l.np, 9) AS DOUBLE)
             AS l_sample,
           CAST(ROUND(CAST(nn.degsum AS DOUBLE) / nn.n / nn.n, 9)
                AS DOUBLE) AS c_rand,
           CAST(ROUND(ln(CAST(nn.n AS DOUBLE))
                      / ln(CAST(nn.degsum AS DOUBLE) / nn.n), 9)
                AS DOUBLE) AS l_rand,
           CAST(ROUND((2.0 * t3.tri3 / nn.triads2
                         / (CAST(nn.degsum AS DOUBLE) / nn.n / nn.n))
                      / ((CAST(l.sd AS DOUBLE) / l.np)
                         / (ln(CAST(nn.n AS DOUBLE))
                            / ln(CAST(nn.degsum AS DOUBLE) / nn.n))), 9)
                AS DOUBLE) AS sigma
    FROM nn CROSS JOIN t3 CROSS JOIN l"""


@query("graph_smallworld_sigma", oracle=_smallworld_oracle())
def graph_smallworld_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-world coefficient sigma = (C/C_rand) / (L/L_rand)
    (Humphries & Gurney 2008, public): a graph is small-world when it
    clusters like a lattice (C >> C_rand = <k>/n) but routes like a
    random graph (L ~ L_rand = ln n / ln <k>). sigma > 1 is the
    standard one-number small-world verdict — the co-purchase graph's
    topology summary next to graph_assortativity / graph_powerlaw_fit.

    Exactness: C is the GLOBAL transitivity 3T/triads — a ratio of two
    exact integers (T from the ordered triangle enumeration over the
    cached pair table, triads from the degree table), so no per-node
    double averaging exists anywhere; L is the sampled-BFS mean
    distance (the graph_closeness seed sample and depth — Sum(dist) and
    count are exact ints). Every double is derived from those integers
    through identical expressions in both engines.

    Scale shape: reuses the cached canonical pair/edge tables (built
    once per session, the graph-snapshot pattern); the triangle join is
    the ordered enumeration (never a 3-way self-join of the directed
    table); BFS state is |seeds| x reach with a min-agg per round; the
    final combine is three 1-row broadcasts."""
    pairs = _pairs(spark, sf_dir)
    edges = _edges(spark, sf_dir).select("src", "dst")
    p1 = pairs.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    p2 = pairs.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
    p3 = pairs.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
    tri3 = (
        p1.join(p2, F.col("b") == F.col("b2"))
        .join(p3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg((3 * F.count(F.lit(1))).cast("bigint").alias("tri3"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    nn = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("degree") * (F.col("degree") - 1))
        .cast("bigint")
        .alias("triads2"),
        F.sum("degree").cast("bigint").alias("degsum"),
    )
    dist = (
        edges.filter(F.expr(_SW_SEED_PRED))
        .select(F.col("src").alias("seed"), F.col("src").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    for _ in range(_SW_DEPTH):
        expanded = dist.join(edges, dist.node == edges.src).select(
            "seed", F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionByName(expanded)
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
        )
    l_ = dist.filter(F.col("dist") > 0).agg(
        F.sum("dist").cast("bigint").alias("sd"),
        F.count(F.lit(1)).cast("bigint").alias("np"),
    )
    avg_k = F.col("degsum").cast("double") / F.col("n")
    c = 2.0 * F.col("tri3") / F.col("triads2")
    c_rand = avg_k / F.col("n")
    l_sample = F.col("sd").cast("double") / F.col("np")
    l_rand = F.log(F.col("n").cast("double")) / F.log(avg_k)
    return (
        nn.crossJoin(F.broadcast(tri3))
        .crossJoin(F.broadcast(l_))
        .select(
            F.col("n").alias("n_nodes"),
            F.expr("degsum div 2").cast("bigint").alias("n_edges"),
            round_dp(c).alias("transitivity"),
            round_dp(l_sample).alias("l_sample"),
            round_dp(c_rand).alias("c_rand"),
            round_dp(l_rand).alias("l_rand"),
            round_dp((c / c_rand) / (l_sample / l_rand)).alias("sigma"),
        )
    )
