"""One benchmark run inside a fresh engine process.

``run.py`` starts this module with the environment pinned and a private
work directory as the current directory; see README.md for what each
metric means. It writes its result as JSON to ``--result``.

Run order: generate the seeded dataset (untimed), set up (import the
engine, start the session, run the untimed warm-up rounds), run the
``workloads.TIMED_ROUNDS`` timed rounds back to back (and more only if
they took less than ``--seconds``), then check every op's output against
its DuckDB oracle (untimed) and, in a traced run, fold the Spark event
log into per-layer costs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

from perfbench import datagen, eventlog, procstat, stats, workloads


@dataclass
class Op:
    key: str
    name: str
    module: str
    data_dir: str
    timed: bool
    t0: float = 0.0  # epoch s: fn() called
    t1: float = 0.0  # fn() returned, sink starts
    t2: float = 0.0  # sink done
    error: str | None = None
    result: object = None  # pandas frame
    load_s: float = 0.0
    release_s: float = 0.0
    released: int = 0
    pinned: int = 0
    storage_mb: float = 0.0

    @property
    def wall(self) -> float:
        return self.t2 - self.t0


class Tracer:
    """Spans around calls into engine layer functions, recorded from
    outside: the named module attributes are replaced by timing wrappers
    in every engine module that imported them."""

    CALLS = (
        ("insight_patents_spark.operators.text", "dedup_cluster_cc", "text.dedup_cluster_cc"),
    )

    def __init__(self) -> None:
        self.op: Op | None = None
        self.calls: dict[str, list[tuple[float, float, Op | None]]] = {
            label: [] for _, _, label in self.CALLS
        }
        self.batches: list[tuple[float, float]] = []  # (received, seconds)
        self.replaced: dict[object, object] = {}

    def install(self) -> None:
        from insight_patents_spark.sources import tables

        self._replace(tables.load, self._timed_load(tables.load))
        for mod, attr, label in self.CALLS:
            orig = getattr(sys.modules[mod], attr)
            self._replace(orig, self._span(label, orig))

    def _replace(self, orig, wrapper) -> None:
        self.replaced[orig] = wrapper
        for name, mod in list(sys.modules.items()):
            if not name.startswith("insight_patents_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)

    def _timed_load(self, orig):
        def load(*a, **k):
            t = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                if self.op is not None:
                    self.op.load_s += time.perf_counter() - t
        return load

    def _span(self, label: str, orig):
        def call(*a, **k):
            t = time.time()
            try:
                return orig(*a, **k)
            finally:
                self.calls[label].append((t, time.time(), self.op))
        return call

    def listener(self):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        tracer = self

        class Batches(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.batches.append((time.time(), event.progress.batchDuration / 1e3))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Batches()


def patch_scratch(work: str) -> None:
    """Point the engine's two /dev/shm scratch roots into the work dir
    (the other scratch root follows TMPDIR, which run.py sets)."""
    from insight_patents_spark.operators import joins
    from insight_patents_spark.streaming import queries

    queries._STREAM_TMP = os.path.join(work, "tmp", "stream")
    joins._BUCKET_SCRATCH = os.path.join(work, "tmp", "bucketed")


def run_op(spark, op: Op, fn, tracer: Tracer | None) -> None:
    from insight_patents_spark.runtime import release_ephemeral

    sc = spark.sparkContext
    if tracer is not None:
        tracer.op = op
    sc.setJobGroup(f"{op.key}:fn", op.name, False)
    op.t0 = time.time()
    op.t1 = 0.0
    try:
        df = fn(spark, op.data_dir)
        op.t1 = time.time()
        sc.setJobGroup(f"{op.key}:sink", op.name, False)
        op.result = df.toPandas()
    except Exception as e:  # noqa: BLE001 -- a failed op is counted, the run goes on
        op.error = f"{type(e).__name__}: {str(e)[:300]}"
    op.t2 = time.time()
    op.t1 = op.t1 or op.t2
    sc.setLocalProperty("spark.jobGroup.id", None)
    t = time.perf_counter()
    op.released = len(release_ephemeral(spark))
    op.release_s = time.perf_counter() - t
    if tracer is not None:
        tracer.op = None
        jsc = sc._jsc
        op.pinned = int(jsc.getPersistentRDDs().size())
        op.storage_mb = sum(
            int(i.memSize()) + int(i.diskSize()) for i in jsc.sc().getRDDStorageInfo()
        ) / 2**20


def check_outputs(ops: list[Op], specs, base_dir: str) -> int:
    """Compare every op's output with its registry oracle on the base
    dataset (per-op data copies are byte-identical to it). Returns the
    number of failed ops: raised, no oracle, or mismatched."""
    from tools.check import compare, duck_connect

    con = duck_connect(base_dir)
    oracles = {}
    failed = 0
    for op in ops:
        problems = [op.error] if op.error else []
        if not problems:
            sql = specs[op.name].oracle
            if sql is None:
                problems = ["no oracle"]
            else:
                if op.name not in oracles:
                    oracles[op.name] = con.execute(sql).df()
                problems = compare(op.name, op.result, oracles[op.name])
        if problems:
            failed += 1
            print(f"perfbench FAIL {op.key} {op.name}: {problems[0]}", flush=True)
        op.result = None
    con.close()
    return failed


def env_record(spark, cpus: str) -> dict:
    import platform

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    jvm = spark.sparkContext._jvm.System.getProperty
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": int(cpus),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": jvm("java.version"),
        "python": platform.python_version(),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    work = os.getcwd()
    base = datagen.write_dataset(os.path.join(work, "data", "base"), args.seed, workloads.SF)

    # ---- set-up: engine import, session start, warm-up ---------------
    t_setup = time.monotonic()
    from insight_patents_spark import registry
    from insight_patents_spark.session import get_spark

    specs = registry.load_all()
    patch_scratch(work)
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    if tracer is not None:
        spark.streams.addListener(tracer.listener())
    module = {n: workloads.module_of(s.fn) for n, s in specs.items()}

    copies = 0

    def next_ops(timed: bool) -> list[Op]:
        """The ops of one round: one flagship run, or one query_mix pass.
        A curation_cold op gets its own copy of the dataset, made here,
        when the round is planned."""
        nonlocal copies
        if args.workload == "query_mix":
            return [Op("", n, module[n], base, timed) for n in workloads.PANEL]
        if args.workload == "patents_e2e":
            return [Op("", "pipeline_patents_e2e", "pipeline", base, timed)]
        copy = shutil.copytree(base, os.path.join(work, "data", f"copy{copies}"))
        copies += 1
        return [Op("", "pipeline_llm_curation_e2e", "pipeline", copy, timed)]

    done: list[Op] = []

    def run(ops: list[Op]) -> None:
        for op in ops:
            op.key = f"pb{len(done)}"
            fn = specs[op.name].fn
            run_op(spark, op, tracer.replaced.get(fn, fn) if tracer else fn, tracer)
            done.append(op)

    for _ in range(workloads.WARMUP_ROUNDS[args.workload]):
        run(next_ops(timed=False))
    setup_s = time.monotonic() - t_setup

    # ---- timed window: a fixed number of rounds ------------------------
    # The fixed rounds are planned (data copied) before the window opens.
    # --seconds is only a floor; a round outlasts it on any machine this
    # benchmark targets, so every run times the same rounds.
    rounds = [next_ops(timed=True) for _ in range(workloads.TIMED_ROUNDS)]
    root = os.getpid()
    cpu0 = procstat.tree_cpu(root)
    steal0 = procstat.host_steal_s()
    t_start = time.monotonic()
    for ops in rounds:
        run(ops)
    while time.monotonic() - t_start < args.seconds:
        run(next_ops(timed=True))
    body_s = time.monotonic() - t_start
    cpu = procstat.tree_cpu(root) - cpu0
    steal = procstat.host_steal_s() - steal0
    peak_rss = procstat.tree_peak_rss_mb(root)
    timed = [op for op in done if op.timed]
    n = len(timed)

    env = env_record(spark, os.environ.get("SPARK_GRAFT_CPUS", "0"))
    print("perfbench env " + json.dumps(env), flush=True)
    failed = check_outputs(done, specs, base)
    if tracer is not None:
        spark.stop()  # closes the event log; an untraced run leaves the JVM to run.py

    by_name: dict[str, list[Op]] = {}
    for op in done:
        by_name.setdefault(op.name, []).append(op)
    for name, ops in by_name.items():
        walls = " ".join(f"{op.wall:.2f}{'' if op.timed else 'w'}" for op in ops)
        print(f"perfbench op {name} [{ops[0].module}] s: {walls}", flush=True)
    op_s = [op.wall for op in timed]
    tail = stats.tail_percentile(op_s)
    print(f"perfbench {args.workload}: {n} timed ops, op_s p50={statistics.median(op_s):.3f}"
          + (f", p{tail[0]:g}={tail[1]:.3f}" if tail else ", no tail percentile (fewer than 20 ops)")
          + f"; wall_s={body_s:.2f} cpu_s={cpu.total_s:.2f} host_steal_s={steal:.2f}"
          + f"; peak_rss_mb={peak_rss:.0f}"
          + f"; attempted={len(done)} failed={failed} error_rate={failed / len(done):.4f}",
          flush=True)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (body_s / n, "s"),
        "cpu_s": (cpu.total_s / n, "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    result = {"attempted": len(done), "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}}
    if tracer is not None:
        modules = sorted({module[n] for n in workloads.PANEL} | {"pipeline"})
        layers, call_stages = layer_metrics(timed, tracer, cpu, modules,
                                            os.path.join(work, "eventlog"))
        result["metrics"].update({k: {"value": v, "unit": u} for k, (v, u) in layers.items()})
        for label, stages in call_stages.items():
            if stages:
                print(f"perfbench {label} stages per call (warm-up first): {stages}", flush=True)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


# ---- per-layer metrics (traced run) -----------------------------------

SPARK_FIELDS = ("jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s", "gc_s",
                "shuffle_mb", "output_mb")
UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "exec_cpu_s": "s",
         "exec_run_s": "s", "gc_s": "s", "shuffle_mb": "MB", "output_mb": "MB"}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(timed: list[Op], tracer: Tracer, cpu: procstat.TreeCpu,
                  modules: list[str], log_dir: str
                  ) -> tuple[dict[str, tuple[float, str]], dict[str, list[int]]]:
    """Per-layer metrics, each a mean per timed op (module metrics: per
    op of that module; layer-call metrics: per call in a timed op), and
    the stage count of every traced layer call, warm-up included."""
    events = list(eventlog.read_events(eventlog.event_files(log_dir)))
    windows = [eventlog.Window(op.key, frozenset({f"{op.key}:fn", f"{op.key}:sink"}),
                               op.t0, op.t2) for op in timed]
    fn_windows = [eventlog.Window(op.key, frozenset({f"{op.key}:fn"}), op.t0, op.t1)
                  for op in timed]
    cost = eventlog.fold(events, windows)
    fn_cost = eventlog.fold(events, fn_windows)
    floor = {op.key: eventlog.floor_s(cost[op.key], op.t0, op.t2) for op in timed}
    n = len(timed)
    out: dict[str, tuple[float, str]] = {}
    for f in SPARK_FIELDS:
        out[f"spark.{f}"] = (_mean(getattr(cost[op.key], f) for op in timed), UNITS[f])
    out["spark.floor_s"] = (_mean(floor.values()), "s")
    out["spark.eager_jobs"] = (_mean(fn_cost[op.key].jobs for op in timed), "count")
    out["driver.fn_s"] = (_mean(op.t1 - op.t0 for op in timed), "s")
    out["driver.sink_s"] = (_mean(op.t2 - op.t1 for op in timed), "s")
    out["proc.driver_cpu_s"] = (cpu.driver_s / n, "s")
    out["proc.jvm_cpu_s"] = (cpu.jvm_s / n, "s")
    out["proc.pyworker_cpu_s"] = (cpu.pyworker_s / n, "s")
    for m in modules:
        ops = [op for op in timed if op.module == m]
        out[f"{m}.wall_s"] = (_mean(op.wall for op in ops), "s")
        out[f"{m}.stages"] = (_mean(cost[op.key].stages for op in ops), "count")
        out[f"{m}.exec_cpu_s"] = (_mean(cost[op.key].exec_cpu_s for op in ops), "s")
        out[f"{m}.floor_s"] = (_mean(floor[op.key] for op in ops), "s")
    out["sources.tables.load_s"] = (_mean(op.load_s for op in timed), "s")
    call_stages = {}
    timed_keys = {op.key for op in timed}
    for _, _, label in Tracer.CALLS:
        calls = tracer.calls[label]
        wins = [eventlog.Window(str(i), frozenset(), s, e) for i, (s, e, _) in enumerate(calls)]
        folded = eventlog.fold(events, wins)
        call_stages[label] = [folded[w.key].stages for w in wins]
        in_timed = [i for i, (_, _, op) in enumerate(calls) if op is not None and op.key in timed_keys]
        out[f"{label}_s"] = (_mean(calls[i][1] - calls[i][0] for i in in_timed), "s")
        out[f"{label}.stages"] = (_mean(call_stages[label][i] for i in in_timed), "count")
    out["runtime.release_s"] = (_mean(op.release_s for op in timed), "s")
    out["runtime.released_rdds"] = (_mean(op.released for op in timed), "count")
    out["runtime.pinned_rdds"] = (_mean(op.pinned for op in timed), "count")
    out["runtime.storage_mb"] = (_mean(op.storage_mb for op in timed), "MB")
    # progress events arrive asynchronously, so a batch is counted by when
    # it was received; nothing after the timed window runs a stream
    batches = [s for t, s in tracer.batches if t >= timed[0].t0]
    out["streaming.batches"] = (len(batches) / n, "count")
    out["streaming.batch_s.p50"] = (statistics.median(batches) if batches else 0.0, "s")
    return out, call_stages


if __name__ == "__main__":
    sys.exit(main())
