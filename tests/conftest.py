"""Shared fixtures: one tuned SparkSession per test run, sf0.001 data."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")

# ---------------------------------------------------------------------------
# Two-tier suite (round 14, verdict item 2): the full suite is ~45 min of
# wall clock, dominated by soak/property/streaming-replay robustness tests
# — the round-13 driver's pytest run was killed at ~25% by its budget, so
# the default tier now defers the HEAVY tier (multi-micro-batch
# streaming-vs-batch replays, randomized property sweeps, soak/chaos) and
# the default run completes within budget. The heavy tier is NOT dead
# code: set RESHAPE_RUN_HEAVY=1 to include it; every optimization round
# runs the full suite once and records the green result in
# docs/rounds/OPTIMIZATION_r*.md. Deterministic semantics pins (the
# batch-route ITCase matrix, oracle equality, operator contracts) all
# stay in the default tier.
# ---------------------------------------------------------------------------
_HEAVY_FILES = {"test_soak.py"}
_HEAVY_TESTS = {
    # randomized property sweeps (the deterministic skip-matrix and
    # ITCase tests in the default tier pin the same semantics)
    "test_timeout_stream_equals_batch_random",
    "test_timeout_skip_subset_of_no_skip_random",
    # multi-minute streaming replay monsters
    "test_timeout_iterative_streaming_skip_equals_batch",
    "test_timeout_iterative_static_flag_streaming",
    "test_join_changelog_two_level_pipeline_stream_equals_batch",
    "test_retraction_consuming_two_level_aggregation",
    "test_timeout_timestamp_order_and_loud_guards",
}
_HEAVY_PATTERNS = ("streaming",)  # within the nfa_itcase replay matrix
_HEAVY_PATTERN_FILES = {"test_cep_nfa_itcase.py"}


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running soak test (heavy tier)"
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("RESHAPE_RUN_HEAVY"):
        return
    import pytest as _pytest

    skip = _pytest.mark.skip(
        reason="heavy tier (RESHAPE_RUN_HEAVY=1 to include; run and "
        "recorded green once per optimization round)"
    )
    for item in items:
        fname = os.path.basename(str(item.fspath))
        base = item.name.split("[")[0]
        if (
            fname in _HEAVY_FILES
            or base in _HEAVY_TESTS
            or (
                fname in _HEAVY_PATTERN_FILES
                and any(p in base for p in _HEAVY_PATTERNS)
            )
        ):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from reshape_on_flink_spark.session import get_spark

    # One JVM serves the whole run. Under get_spark's 48g default the heap
    # only grows, and on a 16 GB box the tier-1 run's JVM passes 8 GB by
    # mid-suite and can be OOM-killed, after which every later test fails
    # with ConnectionRefused. 6g holds the full tier-1 and heavy tiers;
    # SPARK_GRAFT_DRIVER_MEM still overrides.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark("tests", cores=8, extra_confs={"spark.driver.memory": mem})
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    from reshape_on_flink_spark.session import load_tables

    return load_tables(spark, SF_DIR)


@pytest.fixture()
def tmp_dir(request):
    # sanitize: bracketed parametrize ids ("x[orc]") glob-expand in Spark paths
    import re

    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", request.node.name)
    d = os.path.join(TMP, safe)
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def assert_same_rows(df1, df2, key=None):
    """Order-insensitive DataFrame equality (collected)."""
    r1 = sorted(map(tuple, df1.collect()))
    r2 = sorted(map(tuple, df2.collect()))
    assert r1 == r2, f"row mismatch: {len(r1)} vs {len(r2)} rows\n{r1[:3]}\n{r2[:3]}"
