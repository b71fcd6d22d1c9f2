"""BENCHMARK.json lists exactly the metrics run.py prints."""

from __future__ import annotations

import json
import os

from perfbench.run import END_TO_END, EXACT_COUNTS, WORKLOADS, per_layer_units

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    assert "setup_s" in END_TO_END
    assert set(EXACT_COUNTS) <= set(per_layer_units())
