"""Per-query executor-state hygiene for long-lived harness sessions.

Problem (r10 bench archaeology, VERDICT r10 "Performance"): many
operators ``localCheckpoint()`` small intermediates — loop frontiers,
probe batches, signature tables — because lazy multi-stage plans blow up
in Catalyst re-optimization. A localCheckpoint pins its blocks in
executor storage memory until explicitly unpersisted, and a 372-query
bench process never unpersisted any of them, so every query ran under
the accumulated storage/GC pressure of all of its predecessors (the
observed uniform ~1.3x drift plus vector-family outliers: vec_ann_nsw
alone checkpoints a full kNN edge table).

The operators themselves CANNOT unpersist at exit: they return lazy
DataFrames that may still read the checkpointed blocks when the harness
finally executes them. The release point is the harness, after the
result is fully consumed — which is what :func:`release_ephemeral`
provides.

What must survive a release: the cross-query cache. Derived tables
that several queries reuse (signature, pair and label tables of the
text family, the graph edge tables, the LSH index tables, the
streaming schema, ...) are built through :func:`shared`, ONE dict keyed
by ``(applicationId, sf_dir, source, src_stamp(sf_dir, source), tag)``.
``applicationId`` (not ``id(spark)``: reusable after GC) ties an entry
to its SparkContext; the source stamp invalidates it when the source
table is rewritten. A miss first evicts every entry of another
application (its pinned checkpoints are unreclaimable garbage) and
every entry of the same ``(sf_dir, source)`` under an older stamp
(nothing can hit it again); entries of other sf_dirs or other sources
stay, because concurrent multi-SF use is legitimate.

Many entries hold localCheckpointed DataFrames, and unpersisting a
localCheckpoint is unrecoverable (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``
on next touch — verified empirically, there is no recompute fallback).
A release walks the store's DataFrames' analyzed plans, collects the
persistent RDD ids behind their ``LogicalRDD`` leaves, and protects
exactly those. An evicted entry loses that protection, so the next
release frees its checkpoints.

SQL-cached DataFrames (``.persist()``+count, e.g. vector.py's LSH
tables) are left alone entirely: only RDDs whose ``checkpointData`` is
defined (i.e. localCheckpoints) are candidates. Persist-based cache
blocks are evictable/recomputable by Spark's own storage manager, so
they are not a leak in the same sense. Eviction of a superseded stamp
does unpersist them at once: Spark's SQL cache matches plans by source
path, so a stale persist() would otherwise answer the rebuild over the
rewritten file.

At 1000-executor scale the same discipline applies unchanged: a
long-lived driver serving many queries must bound pinned storage, and
"release after the sink commits, protect the shared snapshot tables"
is the production form of this hook.

Iterative loops materialize each round through :func:`checkpoint`,
which also returns the round's halt values (row counts, changed-label
sums) from the checkpoint's own job — the Pregelix superstep, whose
halt test runs inside the superstep's dataflow plan instead of as a
separate ``count()`` or emptiness-probe job.
"""

from __future__ import annotations

import logging
from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame, Observation, SparkSession

from .sources.tables import src_stamp

_LOG = logging.getLogger(__name__)


class PlanScanError(RuntimeError):
    """A shared-cache DataFrame's plan could not be scanned for its
    checkpoint RDD ids. Protection must be exact (releasing a live
    localCheckpoint is unrecoverable), so this aborts the release cycle
    instead of silently leaving the cache unprotected."""


# (applicationId, sf_dir, source, stamp, tag) -> value; see the module
# docstring for the key and the eviction rule.
_SHARED: dict[tuple[str, str, str, str, str], Any] = {}


def shared(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    tag: str,
    build: Callable[[], Any],
) -> Any:
    """The value ``build()`` returns, built once per application and
    version of the ``source`` table under ``sf_dir``; ``tag`` names the
    derived table. DataFrames in the value (alone or inside a
    tuple/list) are protected from :func:`release_ephemeral`."""
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        source,
        src_stamp(sf_dir, source),
        tag,
    )
    if key not in _SHARED:
        for k in [
            k
            for k in _SHARED
            if k[0] != key[0] or (k[1:3] == key[1:3] and k[3] != key[3])
        ]:
            value = _SHARED.pop(k)
            if k[0] == key[0]:  # a dead app's SQL cache died with it
                for df in _dataframes(value):
                    if df.is_cached:
                        df.unpersist()
        _SHARED[key] = build()
    return _SHARED[key]


def checkpoint(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict[str, Any]]:
    """``df.localCheckpoint()`` plus the aggregates ``aggs`` (name ->
    aggregate Column) over its rows, computed by the checkpoint's own job:
    the observation sits directly under the checkpoint, in the result
    stage, so each row is counted once and no second job runs. A NULL
    aggregate (a sum over no rows) comes back as 0."""
    obs = Observation()
    out = df.observe(obs, *(c.alias(k) for k, c in aggs.items())).localCheckpoint()
    return out, {k: 0 if v is None else v for k, v in obs.get.items()}


def _dataframes(value: Any) -> Iterable[DataFrame]:
    if isinstance(value, DataFrame):
        return (value,)
    if isinstance(value, (tuple, list)):
        return tuple(v for v in value if isinstance(v, DataFrame))
    return ()


def _plan_rdd_ids(df: DataFrame) -> set[int]:
    """Persistent-RDD ids behind the LogicalRDD leaves of ``df``'s plan.

    A localCheckpointed DataFrame's analyzed plan is rooted at (or
    contains) LogicalRDD nodes wrapping the pinned RDD; collectLeaves
    finds them at any depth (projections/filters on top included).

    Raises :class:`PlanScanError` if the plan cannot be read — the
    caller must fail CLOSED (skip releasing), because an unscanned
    cache value may own checkpoints that a release would destroy.
    """
    ids: set[int] = set()
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                ids.add(int(leaf.rdd().id()))
    except Exception as exc:  # noqa: BLE001 — fail closed, not open
        raise PlanScanError(
            f"cannot scan shared-cache plan for checkpoint ids: {exc!r}"
        ) from exc
    return ids


def protected_rdd_ids() -> set[int]:
    """Union of checkpoint RDD ids owned by the :func:`shared` store.

    Propagates :class:`PlanScanError` from any unreadable cache value —
    callers that unpersist must treat that as "protection unknown" and
    release nothing this cycle.
    """
    ids: set[int] = set()
    for value in list(_SHARED.values()):
        for df in _dataframes(value):
            ids |= _plan_rdd_ids(df)
    return ids


def release_ephemeral(spark: SparkSession) -> list[int]:
    """Unpersist localCheckpoint RDDs not owned by the shared store.

    Call ONLY after the current query's result has been fully consumed
    (sink committed / collected): released checkpoints cannot be
    recomputed. Returns the released RDD ids (diagnostics/tests).

    Fails CLOSED: if any shared cache's plan cannot be scanned, the
    protected set is unknown, so nothing is released this cycle (a
    leaked checkpoint costs memory; a wrongly released one costs the
    query — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND with no recompute path).
    """
    try:
        protected = protected_rdd_ids()
    except PlanScanError as exc:
        _LOG.warning("release_ephemeral aborted (fail-closed): %s", exc)
        return []
    released: list[int] = []
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        rid = int(k)
        if rid in protected:
            continue
        jrdd = jmap.get(k)
        try:
            # Only localCheckpoints (checkpointData defined) are pinned
            # irrecoverably; plain persisted RDDs (SQL cache) stay.
            if not jrdd.rdd().checkpointData().isDefined():
                continue
            jrdd.unpersist(False)
            released.append(rid)
        except Exception:  # noqa: BLE001 — a racing removal is fine
            continue
    return released
