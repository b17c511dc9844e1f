"""Same seed, same counts: two traced runs of a workload must report the
same Spark job counts, merge outcome counts and stored bytes — the per-unit
Spark-job budget is a count, so a change can be held to it exactly.

    python3 -m pytest perfbench/test_counts.py -q   # about three minutes each
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT = ("spark.jobs_per_unit", "table.lake.merge_calls",
         "table.lake.cow_commits", "table.lake.files_read",
         "table.lake.files_carried", "table.lake.stored_mb")


def traced_run(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["bulk_replay", "stream_fanout"])
def test_counts_repeat_exactly(workload):
    a, b = traced_run(workload, 7), traced_run(workload, 7)
    assert a["correct"] and b["correct"]
    pinned = [m for m in a["metrics"]
              if m in EXACT or m.startswith("spark.jobs.")]
    assert a["metrics"]["spark.jobs_per_unit"]["value"] > 0
    for m in pinned:
        assert a["metrics"][m]["value"] == b["metrics"][m]["value"], m
