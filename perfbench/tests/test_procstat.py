"""Process-tree CPU accounting survives children that exit mid-window."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench import procstat

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_reaped_child_cpu_stays_counted():
    before = procstat.tree_cpu(os.getpid())
    # the child burns CPU, exits and is reaped before the second reading:
    # its CPU must move into our cutime, not vanish from the tree
    subprocess.run([sys.executable, "-c", BURN.format(s=0.5)], check=True)
    after = procstat.tree_cpu(os.getpid())
    assert (after - before).total_s >= 0.45


def test_live_child_cpu_counted_then_kept_after_exit():
    child = subprocess.Popen([sys.executable, "-c", BURN.format(s=0.4) + "time.sleep(30)\n"])
    try:
        deadline = time.monotonic() + 20
        while procstat.tree_cpu(os.getpid()).driver_s < 0.4 and time.monotonic() < deadline:
            time.sleep(0.05)
        live = procstat.tree_cpu(os.getpid())
        assert live.driver_s >= 0.35
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None
    gone = procstat.tree_cpu(os.getpid())
    assert (gone - live).total_s >= -0.02


def test_tree_lists_root_first_and_descendants():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        pids = [p.pid for p in procstat.tree(os.getpid())]
        assert pids[0] == os.getpid()
        assert child.pid in pids
        assert procstat.tree_peak_rss_mb(os.getpid()) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
