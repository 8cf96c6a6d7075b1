"""The counts later changes may claim as counts must repeat exactly at a
fixed seed: two traced runs of the benchmark on the same seed report the
same Spark job, exchange and input-byte counts.

Each case runs ``perfbench/run.py`` twice in a fresh process (about a
minute per run)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
EXACT = ["pipeline.spark_jobs", "sheet_ingest.spark_jobs", "uniqueness.exchanges", "pipeline.input_mb"]


def _traced_run(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    return result["metrics"]


@pytest.mark.parametrize("workload", ["images", "records", "workbook"])
def test_counts_repeat_across_runs(workload):
    first, second = _traced_run(workload), _traced_run(workload)
    for name in EXACT:
        assert first[name]["value"] == second[name]["value"], name
