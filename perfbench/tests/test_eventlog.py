"""Event-log folding attributes Spark work to the operation that caused it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from perfbench import eventlog

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stage(sid, group, t_ms):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": t_ms},
            "Properties": props}


def _task(sid, cpu_ns, launch_ms, finish_ms):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": 100,
                             "JVM GC Time": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                             "Output Metrics": {"Bytes Written": 0}}}


def _job(jid, group, t_ms):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Properties": {"spark.jobGroup.id": group} if group else {}}


WINDOWS = [
    eventlog.Window("a", frozenset({"a:fn", "a:sink"}), 100.0, 110.0),
    eventlog.Window("b", frozenset({"b:fn", "b:sink"}), 110.0, 120.0),
]


def test_group_beats_time_and_time_is_the_fallback():
    events = [
        _job(0, "a:fn", 100_500), _stage(0, "a:fn", 100_500), _task(0, 2_000_000_000, 100_600, 101_600),
        # a job of op a whose stage was submitted late, inside b's window:
        # the group decides
        _job(1, "a:sink", 110_500), _stage(1, "a:sink", 110_500), _task(1, 1_000_000_000, 110_600, 111_000),
        # a stream's own group: attributed by submission time
        _job(2, "stream-run-1", 115_000), _stage(2, "stream-run-1", 115_000), _task(2, 500_000_000, 115_000, 115_500),
        # outside every window: dropped
        _stage(3, None, 130_000), _task(3, 9_000_000_000, 130_000, 131_000),
    ]
    costs = eventlog.fold(events, WINDOWS)
    assert costs["a"].exec_cpu_s == pytest.approx(3.0)
    assert costs["a"].stages == 2 and costs["a"].jobs == 2 and costs["a"].tasks == 2
    assert costs["b"].exec_cpu_s == pytest.approx(0.5)
    assert costs["b"].jobs == 1 and costs["b"].shuffle_mb == pytest.approx(1.0)
    # op a: tasks cover 1.0 s + 0.4 s (the second clipped to nothing: it
    # runs after a's window) -> floor 10 - 1.0
    assert eventlog.floor_s(costs["a"], 100.0, 110.0) == pytest.approx(9.0)


def test_covered_merges_overlaps_and_clips():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (-1.0, 0.5)]
    assert eventlog.covered_s(spans, 0.0, 5.5) == pytest.approx(3.5)


def test_reads_plain_and_rolling_logs_and_rejects_compressed(tmp_path):
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "local-1").write_text(json.dumps(_job(0, "a:fn", 1)) + "\n")
    assert len(list(eventlog.read_events(eventlog.event_files(str(plain))))) == 1
    rolling = tmp_path / "rolling" / "eventlog_v2_local-1"
    rolling.mkdir(parents=True)
    for i in (2, 1, 10):
        (rolling / f"events_{i}_local-1").write_text(json.dumps(_job(i, "g", i)) + "\n")
    files = eventlog.event_files(str(tmp_path / "rolling"))
    assert [json.loads(open(f).read())["Job ID"] for f in files] == [1, 2, 10]
    (plain / "local-2.zstd").write_bytes(b"\x28\xb5")
    with pytest.raises(ValueError):
        eventlog.event_files(str(plain))


SPARK_SCRIPT = textwrap.dedent("""
    import json, sys, time
    from pyspark.sql import SparkSession
    from perfbench import eventlog
    log_dir = sys.argv[1]
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    q = "sum(hash(id, id * 7, id % 13))"
    spark.range(1000).selectExpr(q).collect()  # untagged warm-up, outside every window
    wins = []
    for key, n in (("light", 10), ("heavy", 20_000_000)):
        sc.setJobGroup(key + ":fn", key, False)
        t0 = time.time()
        spark.range(n).selectExpr(q).collect()
        wins.append(eventlog.Window(key, frozenset({key + ":fn"}), t0, time.time()))
    spark.stop()
    costs = eventlog.fold(eventlog.read_events(eventlog.event_files(log_dir)), wins)
    print(json.dumps({k: [c.jobs, c.stages, c.tasks, c.exec_cpu_s] for k, c in costs.items()}))
""")


def test_known_job_group_cpu_lands_on_its_op(tmp_path):
    """Real Spark: a heavy op's executorCpuTime is attributed to its own
    job group, not to the light op that ran just before it."""
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    env = dict(os.environ, PYTHONPATH=ROOT, PYSPARK_SUBMIT_ARGS=
               f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp_path} pyspark-shell",
               TMPDIR=str(tmp_path), SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run([sys.executable, "-c", SPARK_SCRIPT, str(log_dir)], env=env,
                         cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert out.returncode == 0, out.stderr[-2000:]
    costs = json.loads(out.stdout.strip().splitlines()[-1])
    light, heavy = costs["light"], costs["heavy"]
    assert light[0] >= 1 and heavy[0] >= 1 and heavy[2] >= 2
    assert heavy[3] > 0.05
    assert heavy[3] > 5 * light[3]
