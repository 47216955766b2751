"""Harness state-hygiene contract (runtime.release_ephemeral), the
loop halt contract (runtime.checkpoint: halt values ride the round's own
checkpoint job), and the session's codegen cache holding a query's
working set.

Pins the r11 fix for the r10 full-bench inflation: ephemeral
localCheckpoints are unpersisted after a query's result is consumed,
while shared-cache checkpoints (and persist()-based SQL caches) survive
and their downstream consumers still execute. Unpersisting a live
localCheckpoint is unrecoverable (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND),
so the protection logic is load-bearing, not an optimization.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from insight_patents_spark import registry, runtime
from insight_patents_spark.session import compiled_classes
from insight_patents_spark.sources.tables import TABLE_NAMES
from tools.check import compare, duck_connect


def _persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _run(spark, sf_dir, name) -> None:
    registry.load_all()[name].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def test_release_drops_unregistered_checkpoint(spark):
    cp = spark.range(1000).withColumn("x", F.col("id") * 2).localCheckpoint()
    cp_id = int(
        cp._jdf.queryExecution().analyzed().collectLeaves().apply(0).rdd().id()
    )
    assert cp_id in _persistent_ids(spark)
    released = runtime.release_ephemeral(spark)
    assert cp_id in released
    assert cp_id not in _persistent_ids(spark)


def test_release_protects_shared_cache_and_consumers(spark, sf_dir):
    # Build the shared graph caches (pair + edge checkpoints), release,
    # then run iterative consumers that would crash with
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND if protection failed.
    _run(spark, sf_dir, "graph_build")
    protected = runtime.protected_rdd_ids()
    assert protected, "graph caches should register protected checkpoints"
    runtime.release_ephemeral(spark)
    assert protected <= _persistent_ids(spark)
    _run(spark, sf_dir, "graph_cc")  # reads the protected edge cache
    runtime.release_ephemeral(spark)
    _run(spark, sf_dir, "graph_degree")  # and again after a release


def test_release_leaves_sql_cache_alone(spark):
    pre = _persistent_ids(spark)
    df = spark.range(512).withColumn("y", F.col("id") % 7).persist()
    df.count()
    cached_ids = _persistent_ids(spark) - pre
    assert cached_ids, "persist()+count should register a persistent RDD"
    released = runtime.release_ephemeral(spark)
    # persist()-based blocks are recomputable; the hook must not touch
    # them (vec_ann_lsh's bucket/shortlist cache contract): the cached
    # RDD is neither in the released list nor gone from the registry.
    assert cached_ids.isdisjoint(released)
    assert cached_ids <= _persistent_ids(spark)
    assert df.count() == 512
    df.unpersist()


def test_release_fails_closed_on_plan_scan_error(spark, monkeypatch):
    # An unscannable shared-cache value means the protected set is
    # unknown — the hook must release NOTHING that cycle rather than
    # risk destroying the cache's live checkpoints (ADVICE r11).
    cp = spark.range(256).localCheckpoint()
    cp_id = int(
        cp._jdf.queryExecution().analyzed().collectLeaves().apply(0).rdd().id()
    )
    # a stored DataFrame whose plan scan raises
    poison = spark.range(1)
    poison._jdf = None
    with monkeypatch.context() as m:
        m.setitem(runtime._SHARED, ("poison",), poison)
        released = runtime.release_ephemeral(spark)
        assert released == []
        assert cp_id in _persistent_ids(spark)
    # with the poison gone the same checkpoint is released normally
    assert cp_id in runtime.release_ephemeral(spark)


def test_ephemeral_checkpoints_do_not_accumulate(spark, sf_dir):
    # A checkpoint-heavy query's pinned RDDs must not outlive the hook:
    # after release, only protected + persist-based blocks remain.
    _run(spark, sf_dir, "dedup_cluster_cc")  # builds sig/pairs/cc caches
    runtime.release_ephemeral(spark)
    baseline = _persistent_ids(spark)
    _run(spark, sf_dir, "graph_louvain_move")  # many loop checkpoints
    assert _persistent_ids(spark) > baseline
    runtime.release_ephemeral(spark)
    leftover = _persistent_ids(spark) - baseline - runtime.protected_rdd_ids()
    # anything left must be persist-based (no checkpointData), not pinned
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in leftover:
            assert not jmap.get(k).rdd().checkpointData().isDefined()


def _writable_sf0001(sf_dir, tmp_path) -> str:
    """A private, writable copy of the sf0.001 dataset next to ``sf_dir``."""
    src = Path(sf_dir).parent / "sf0.001"
    tmp_path.mkdir(exist_ok=True)
    for t in TABLE_NAMES:
        shutil.copyfile(src / f"{t}.parquet", tmp_path / f"{t}.parquet")
    return str(tmp_path)


# Classes a warm rerun may still compile: AQE can pick a different plan
# variant on a rerun (a curation op recompiled 12 of its 149 classes once
# in three warm runs); a cache smaller than the working set recompiles
# nearly all of them.
_WARM_RECOMPILES_MAX = 24


def test_warm_rerun_recompiles_nothing(spark, sf_dir, tmp_path):
    # Each run reads its own dataset copy, so the second run rebuilds
    # every shared cache as a new corpus would, from the same generated
    # code: the session's codegen cache must still hold it.
    name = "pipeline_llm_curation_e2e"
    for run in ("cold", "warm"):
        sf = _writable_sf0001(sf_dir, tmp_path / run)
        before = compiled_classes(spark)
        _run(spark, sf, name)
        runtime.release_ephemeral(spark)
        compiled = compiled_classes(spark) - before
    assert compiled <= _WARM_RECOMPILES_MAX, f"warm rerun compiled {compiled} classes"


def _keep_even(sf: str, table: str, col: str) -> None:
    """Rewrite ``table`` in place with only the rows whose ``col`` is even
    (a new size, so a new source stamp)."""
    path = f"{sf}/{table}.parquet"
    t = pq.read_table(path)
    pq.write_table(t.filter(pc.equal(pc.bit_wise_and(t[col], 1), 0)), path)


def test_lsh_index_follows_rewritten_embeddings(spark, sf_dir, tmp_path):
    # The persisted LSH tables are keyed by the embeddings stamp: after an
    # in-place rewrite the query must answer for the new file, not serve
    # the index built from the old one.
    sf = _writable_sf0001(sf_dir, tmp_path)
    spec = registry.load_all()["vec_ann_lsh"]
    spec.fn(spark, sf).toPandas()
    _keep_even(sf, "embeddings", "vec_id")
    got = spec.fn(spark, sf).toPandas()
    con = duck_connect(sf)
    want = con.execute(spec.oracle).df()
    con.close()
    problems = compare("vec_ann_lsh", got, want)
    assert not problems, "; ".join(problems)


def test_bucketed_join_follows_rewritten_source(spark, sf_dir, tmp_path):
    # The bucketed copies of lineitem and orders are keyed by their source
    # stamps: after an in-place rewrite of orders the query must answer for
    # the new file, not from the bucketed copy of the old one.
    sf = _writable_sf0001(sf_dir, tmp_path)
    spec = registry.load_all()["join_bucketed"]
    spec.fn(spark, sf).toPandas()
    _keep_even(sf, "orders", "o_orderkey")
    got = spec.fn(spark, sf).toPandas()
    con = duck_connect(sf)
    want = con.execute(spec.oracle).df()
    con.close()
    problems = compare("join_bucketed", got, want)
    assert not problems, "; ".join(problems)


def test_rewritten_source_unpins_superseded_checkpoints(spark, sf_dir, tmp_path):
    # A new lineitem stamp evicts the graph tables built from the old one,
    # so their checkpoints stop being protected: the protected set must
    # not grow when the same query reruns on the rewritten table.
    sf = _writable_sf0001(sf_dir, tmp_path)
    _run(spark, sf, "graph_degree")
    before = runtime.protected_rdd_ids()
    _keep_even(sf, "lineitem", "l_orderkey")
    _run(spark, sf, "graph_degree")
    assert len(runtime.protected_rdd_ids()) <= len(before)


def test_checkpoint_observes_count_and_sum_of_its_rows(spark):
    # The observed aggregates describe exactly the checkpointed rows,
    # and a sum over no rows comes back as 0, not None.
    df = spark.range(100).select((F.col("id") % 7).alias("x"))
    for cond in ("x > 2", "x > 9"):
        cp, seen = runtime.checkpoint(
            df.filter(cond), n=F.count(F.lit(1)), s=F.sum("x")
        )
        assert seen["n"] == cp.count()
        assert seen["s"] == (cp.agg(F.sum("x")).first()[0] or 0)
    assert seen == {"n": 0, "s": 0}


def _forbid_halt_jobs(spark, monkeypatch) -> None:
    """Make any separate count()/isEmpty() job an error: loop halt and
    guard values must come from the round's own checkpoint job. Patched
    on the session's concrete DataFrame class, which overrides both."""

    def separate_job(self, *args, **kwargs):
        raise AssertionError("a separate count()/isEmpty() job ran")

    cls = type(spark.range(0))
    monkeypatch.setattr(cls, "count", separate_job)
    monkeypatch.setattr(cls, "isEmpty", separate_job)


def test_min_label_loop_runs_no_separate_halt_job(spark, monkeypatch):
    from insight_patents_spark.operators.graph import _min_label_loop

    edges = [(0, 1), (1, 0), (1, 2), (2, 1), (3, 4), (4, 3)]
    ndf = spark.createDataFrame([(v,) for v in range(5)], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    _forbid_halt_jobs(spark, monkeypatch)
    got = _min_label_loop(ndf, edf, 4, "guard").collect()
    assert {r.node: r.lbl for r in got} == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}


def test_scc_peel_runs_no_separate_halt_job(spark, monkeypatch):
    from insight_patents_spark.operators.graph import _scc_peel

    n = 12  # reversed 12-cycle: one SCC, min id 0
    ndf = spark.createDataFrame([(v,) for v in range(n)], "node long")
    edf = spark.createDataFrame(
        [((k + 1) % n, k) for k in range(n)], "src long, dst long"
    )
    _forbid_halt_jobs(spark, monkeypatch)
    got = _scc_peel(ndf, edf).collect()
    assert {r.node: r.scc for r in got} == {v: 0 for v in range(n)}


@pytest.mark.parametrize(
    "name", ["graph_ktruss", "dedup_cluster_cc", "win_skyline_3d"]
)
def test_query_loops_run_no_separate_halt_job(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    # A private dataset copy, so the loop's own shared-cache entry is
    # new; the shared inputs the loop reads are built before the patch.
    from insight_patents_spark.operators.graph import _pairs
    from insight_patents_spark.operators.text import verified_pairs

    sf = _writable_sf0001(sf_dir, tmp_path)
    _pairs(spark, sf)
    verified_pairs(spark, sf)
    spec = registry.load_all()[name]
    _forbid_halt_jobs(spark, monkeypatch)
    got = spec.fn(spark, sf).toPandas()
    monkeypatch.undo()
    con = duck_connect(sf)
    want = con.execute(spec.oracle).df()
    con.close()
    problems = compare(name, got, want)
    assert not problems, "; ".join(problems)
