"""Benchmark command: one run of one workload.

    python3 perfbench/run.py --workload curation_cold --seed 1 --seconds 1 --trace 0

Run from the repository root. Pins the run environment, starts the
engine in a child process (``perfbench.harness``) inside a private work
directory under ``.perfbench_work/``, waits for it, removes every process
it left and the work directory, and prints the result as the last line
of standard output:

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload twice, untraced and then traced with the Spark event log on, and
reports the traced run's per-layer metrics, the untraced run's ``wall_s``
and ``trace.overhead_frac``, the traced run's ``wall_s`` over the
untraced one's, minus one.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the run must end within 180 s; leave room to clean up after a kill
DEADLINE_S = 170.0
E2E = ("setup_s", "cpu_s", "peak_rss_mb")


def driver_mem_mb() -> int:
    """Driver heap: a quarter of physical RAM, at most 4 GiB (the
    engine's default of 16g exceeds small machines' RAM)."""
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return min(4096, total_mb // 4)


def child_env(work: str, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata files under the system temp dir.
    # -XX:TieredStopAtLevel=1: compile with C1 only. A run lives about a
    # minute, and with C2 the JVM spends most of it compiling: a query_mix
    # pass's CPU fell by a third over its first four passes, so a figure
    # depended on where on that curve the timed ops fell. C1 code is ready
    # within the warm-up, and the timed CPU is the engine's work, not the
    # compiler's.
    # -XX:+UseSerialGC: one GC thread, which does not spin while the host
    # withholds a CPU, and a heap that grows alike on every run.
    java_opts = (f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC "
                 f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp")
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work}/warehouse",
        f"spark.driver.extraJavaOptions={java_opts}",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work}/eventlog",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # Python workers import the engine's UDF modules by name
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell",
    })
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _reap_group(proc: subprocess.Popen) -> None:
    """Kill whatever the child left in its process group (the JVM, Python
    workers) and wait until the group is empty."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    t = time.monotonic()
    while _group_alive(proc.pid) and time.monotonic() - t < 20:
        time.sleep(0.1)


def run_child(args, trace: bool, deadline: float) -> dict | None:
    """One harness process; its result dict, or None if it failed."""
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    log_path = work + ".log"
    cmd = [sys.executable, "-m", "perfbench.harness", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(int(trace)), "--result", result_path]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=child_env(work, trace),
                                    stdout=sys.stdout, stderr=log, start_new_session=True)
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _reap_group(proc)
        if code != 0:
            why = "timed out" if code is None else f"exited with {code}"
            sys.stderr.write(f"perfbench: harness {why}; last log lines:\n")
            with open(log_path) as f:
                sys.stderr.writelines(f.readlines()[-30:])
            return None
        with open(result_path) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(log_path):
            os.remove(log_path)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def main() -> int:
    t0 = time.monotonic()
    # on SIGTERM, unwind through run_child's cleanup: kill the engine, drop the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("insight_patents_spark/registry.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            sys.stderr.write(f"perfbench: {need} not found under {ROOT}; "
                             "run from a checkout of the engine\n")
            return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; "
                         f"expected one of {list(WORKLOADS)}\n")
        return 2
    deadline = t0 + DEADLINE_S
    if not args.trace:
        res = run_child(args, False, deadline)
        if res is None:
            return 1
        metrics = {k: res["metrics"][k] for k in E2E}
    else:
        # the traced child takes as long as the untraced one or longer, so
        # an untraced child past half the budget leaves it too little
        plain = run_child(args, False, t0 + DEADLINE_S / 2)
        res = plain and run_child(args, True, deadline)
        if res is None:
            return 1
        metrics = {k: v for k, v in res["metrics"].items() if k not in E2E}
        # wall time, untraced: a per-layer figure, not an end-to-end one,
        # because host CPU steal moves it by more than any bound
        metrics["wall_s"] = plain["metrics"]["wall_s"]
        ratio = res["metrics"]["wall_s"]["value"] / plain["metrics"]["wall_s"]["value"]
        metrics["trace.overhead_frac"] = {"value": ratio - 1.0, "unit": "ratio"}
        res = {"attempted": plain["attempted"] + res["attempted"],
               "failed": plain["failed"] + res["failed"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
