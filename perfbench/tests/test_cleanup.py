"""A run waits for every process it started, directly or not, before it
exits: an orphaned grandchild and multiprocessing's resource tracker are
both reaped by ``stop_descendants``."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]

SCRIPT = """
import json, multiprocessing, os, subprocess, sys, time
sys.path.insert(0, sys.argv[1])
from perfbench.run import _descendants, adopt_orphans, stop_descendants

adopt_orphans()
# the shell exits at once; its background sleep is orphaned
subprocess.run(["sh", "-c", "sleep 3 >/dev/null 2>&1 &"], check=True)
# a spawn-context lock starts the resource tracker, which runs until told to stop
multiprocessing.get_context("spawn").Lock()
before = len(_descendants(os.getpid()))
t0 = time.monotonic()
stop_descendants(grace_s=20)
print(json.dumps({"before": before, "after": _descendants(os.getpid()),
                  "waited_s": time.monotonic() - t0}))
"""


def test_orphans_and_resource_tracker_are_reaped():
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(ROOT)],
        capture_output=True, text=True, timeout=60, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["before"] == 2  # the orphaned sleep and the tracker
    assert result["after"] == []
    # the sleep ends by itself; nothing waits out the grace period
    assert result["waited_s"] < 10
