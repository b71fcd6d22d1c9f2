"""Two traced runs with the same seed agree exactly on the tagged counts.

Each case starts two full benchmark processes (about two minutes per
workload on four cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.run import EXACT_COUNTS, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _traced(workload: str, seed: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()[-1]
    res = json.loads(out)
    assert res["correct"] and res["failed"] == 0
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_counts_repeat(workload):
    a, b = _traced(workload, 3), _traced(workload, 3)
    assert {k: a[k] for k in EXACT_COUNTS} == {k: b[k] for k in EXACT_COUNTS}
    if workload == "skew_stream":
        assert a["reshape.detect_batches"] >= 1 and a["reshape.cancel_batches"] >= 1
    else:
        assert a["spark.exec_jobs"] > 0
