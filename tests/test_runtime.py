"""Harness state-hygiene contract (runtime.release_ephemeral).

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

from insight_patents_spark import registry, runtime
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
    for t in TABLE_NAMES:
        shutil.copyfile(src / f"{t}.parquet", tmp_path / f"{t}.parquet")
    return str(tmp_path)


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
