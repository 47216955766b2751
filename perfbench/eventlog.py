"""Fold a Spark event log into per-operation and per-window costs.

The benchmark tags each operation's jobs with a job group of its own
(``sparkContext.setJobGroup``) and records the operation's wall-clock
window. Spark writes one JSON object per line to its event log; folding
it attributes every job, stage and task to an operation:

- by the job group in the stage's submit properties, when the group is
  one the benchmark set;
- otherwise by the time the stage was submitted, when it falls inside an
  operation's window. Structured streaming runs its micro-batches in its
  own thread under its own job group, so its stages land here.

Timestamps in the log are epoch milliseconds, the same clock as
``time.time()`` in the process that records the windows.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field


@dataclass
class Cost:
    """Spark work attributed to one operation or one time window."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    exec_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    output_mb: float = 0.0
    # (launch, finish) epoch seconds of every task, for the floor
    task_spans: list[tuple[float, float]] = field(default_factory=list)


@dataclass(frozen=True)
class Window:
    """One operation: the job groups it set and its wall-clock span."""

    key: str
    groups: frozenset[str]
    start: float  # epoch seconds
    end: float


def event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: a plain ``<app-id>`` file, or
    the ``eventlog_v2_*/events_*`` parts a rolling log writes."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files += sorted(glob.glob(os.path.join(d, "events_*")),
                        key=lambda p: int(os.path.basename(p).split("_")[1]))
    bad = [p for p in files if p.endswith((".zstd", ".lz4", ".snappy", ".lzf"))]
    if bad:
        raise ValueError(f"compressed event log (set spark.eventLog.compress=false): {bad[0]}")
    return [p for p in files if not p.endswith(".inprogress")] or files


def read_events(paths: Iterable[str]) -> Iterator[dict]:
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _owner(windows: list[Window], group: str | None, t: float) -> Window | None:
    if group is not None:
        for w in windows:
            if group in w.groups:
                return w
    for w in windows:
        if w.start <= t <= w.end:
            return w
    return None


def fold(events: Iterable[dict], windows: list[Window]) -> dict[str, Cost]:
    """Cost per window key. Work outside every window is dropped."""
    costs = {w.key: Cost() for w in windows}
    stage_owner: dict[tuple[int, int], Window | None] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            w = _owner(windows, props.get("spark.jobGroup.id"),
                       ev["Submission Time"] / 1000.0)
            if w is not None:
                costs[w.key].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            t = info.get("Submission Time")
            w = _owner(windows, props.get("spark.jobGroup.id"),
                       (t if t is not None else 0) / 1000.0)
            stage_owner[(info["Stage ID"], info["Stage Attempt ID"])] = w
            if w is not None:
                costs[w.key].stages += 1
        elif kind == "SparkListenerTaskEnd":
            w = stage_owner.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if w is None:
                continue
            _add_task(costs[w.key], ev)
    return costs


def _add_task(c: Cost, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    c.tasks += 1
    c.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    c.exec_run_s += m.get("Executor Run Time", 0) / 1e3
    c.gc_s += m.get("JVM GC Time", 0) / 1e3
    c.shuffle_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
    c.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 2**20
    if info.get("Launch Time") and info.get("Finish Time"):
        c.task_spans.append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))


def covered_s(spans: Iterable[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``spans`` clipped to ``[start, end]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def floor_s(cost: Cost, start: float, end: float) -> float:
    """Wall time of ``[start, end]`` during which no task was running:
    driver work, job launch and scheduling between tasks."""
    return (end - start) - covered_s(cost.task_spans, start, end)
