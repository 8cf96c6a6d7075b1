"""Pins the CPU-seconds counter behind ``cpu_s_per_krow`` with a probe of
known cost: a child that burns one CPU-second counts whether it is still
running or has already exited and been reaped."""

from __future__ import annotations

import subprocess
import sys
import time

from perfbench.run import tree_cpu_s

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 1.0: pass\n"


def test_running_child_counts():
    c0 = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN + "time.sleep(60)\n"])
    try:
        deadline = time.monotonic() + 30
        while tree_cpu_s() - c0 < 1.0 and time.monotonic() < deadline:
            time.sleep(0.1)
        assert 1.0 <= tree_cpu_s() - c0 <= 1.5
    finally:
        child.kill()
        child.wait()


def test_reaped_child_counts():
    c0 = tree_cpu_s()
    subprocess.run([sys.executable, "-c", BURN], check=True)
    assert 1.0 <= tree_cpu_s() - c0 <= 1.5
