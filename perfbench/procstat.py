"""CPU and memory of a process tree, read from ``/proc``.

The engine runs as three kinds of process: the Python driver, the Spark
JVM it launches, and the Python workers the JVM forks for UDFs and Arrow
kernels. Workers come and go during a query, so summing the CPU of the
processes alive at two instants is wrong: a worker that exits between
the two readings takes its CPU with it and the difference can go
negative. A reaped child's CPU is added to its parent's ``cutime`` and
``cstime``, so counting those fields for every live process keeps the
total monotonic.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    self_s: float  # utime + stime
    children_s: float  # cutime + cstime: reaped descendants
    hwm_mb: float  # peak resident set (VmHWM)


def _read_proc(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # comm is parenthesised and may contain spaces; fields follow the last ')'
    comm = stat[stat.index("(") + 1:stat.rindex(")")]
    fields = stat[stat.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    hwm_kb = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return Proc(pid, ppid, comm, (utime + stime) / _TICK,
                (cutime + cstime) / _TICK, hwm_kb / 1024.0)


def tree(root: int) -> list[Proc]:
    """``root`` and every live descendant, root first."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_proc(int(name))
            if p is not None:
                procs[p.pid] = p
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo.extend(kids.get(pid, ()))
    return out


@dataclass(frozen=True)
class TreeCpu:
    """CPU seconds of the engine's process tree, split by role."""

    driver_s: float
    jvm_s: float
    pyworker_s: float

    @property
    def total_s(self) -> float:
        return self.driver_s + self.jvm_s + self.pyworker_s

    def __sub__(self, other: "TreeCpu") -> "TreeCpu":
        return TreeCpu(self.driver_s - other.driver_s,
                       self.jvm_s - other.jvm_s,
                       self.pyworker_s - other.pyworker_s)


def tree_cpu(root: int) -> TreeCpu:
    """Split the tree's CPU into driver (``root`` itself), JVM (every
    ``java`` process) and Python workers (everything under a JVM).

    Reaped children's CPU stays counted: under the driver it is the JVM
    launcher scripts, under the JVM it is worker daemons that exited, and
    under a worker daemon it is workers that exited."""
    procs = tree(root)
    by_pid = {p.pid: p for p in procs}
    driver = jvm = py = 0.0
    for p in procs:
        if p.pid == root:
            driver += p.self_s + p.children_s
        elif p.comm == "java":
            # the JVM's own reaped children are Python worker daemons
            jvm += p.self_s
            py += p.children_s
        elif _under_java(p, by_pid, root):
            py += p.self_s + p.children_s
        else:
            driver += p.self_s + p.children_s
    return TreeCpu(driver, jvm, py)


def _under_java(p: Proc, by_pid: dict[int, Proc], root: int) -> bool:
    pid = p.ppid
    while pid in by_pid and pid != root:
        if by_pid[pid].comm == "java":
            return True
        pid = by_pid[pid].ppid
    return False


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set of every live process in the tree."""
    return sum(p.hwm_mb for p in tree(root))


def host_steal_s() -> float:
    """CPU time the hypervisor has withheld from this machine's CPUs,
    summed over CPUs (the ``steal`` field of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK
