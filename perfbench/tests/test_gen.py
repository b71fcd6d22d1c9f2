"""Seeded inputs: the seed alone fixes the generated tables and stream."""

from __future__ import annotations

import hashlib
import os

import numpy as np

from perfbench import gen


def _digests(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def _write_plan(plan, root: str) -> dict[str, str]:
    in_dir, stage = os.path.join(root, "in"), os.path.join(root, "stage")
    os.makedirs(in_dir)
    os.makedirs(stage)
    for f in plan.files:
        gen.write_stream_file(f, in_dir, stage)
    assert os.listdir(stage) == []
    return _digests(in_dir)


def test_same_seed_same_stream_files(tmp_path):
    a = _write_plan(gen.stream_plan(7, 1, 12, 500, 64), str(tmp_path / "a"))
    b = _write_plan(gen.stream_plan(7, 1, 12, 500, 64), str(tmp_path / "b"))
    c = _write_plan(gen.stream_plan(8, 1, 12, 500, 64), str(tmp_path / "c"))
    assert len(a) == 12
    assert a == b
    assert a != c


def test_same_seed_same_events(tmp_path):
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.write_events(str(tmp_path / d), 0.001, seed)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert list(a) == ["events.parquet"]
    assert a == b
    assert a != c


def test_stream_schedule_uniform_then_a_then_b():
    n_files, rows, keys = 12, 1000, 64
    plan = gen.stream_plan(5, 2, n_files, rows, keys)
    assert [f.segment for f in plan.files] == ["uniform"] * 4 + ["hot_a"] * 4 + ["hot_b"] * 4
    assert plan.hot_a != plan.hot_b
    # the hot keys belong to the seed, not to the phase
    other = gen.stream_plan(5, 1, n_files, rows, keys)
    assert (other.hot_a, other.hot_b) == (plan.hot_a, plan.hot_b)
    ids = np.concatenate([f.table["event_id"].to_numpy() for f in plan.files])
    assert (ids == np.arange(n_files * rows)).all()
    for f in plan.files:
        k = f.table["user_id"].to_numpy()
        share_a = (k == plan.hot_a).mean()
        share_b = (k == plan.hot_b).mean()
        assert k.min() >= 0 and k.max() < keys
        if f.segment == "uniform":
            assert share_a < 0.1 and share_b < 0.1
        elif f.segment == "hot_a":
            assert share_a == gen.HOT_SHARE and share_b < 0.1
        else:  # A cools to the uniform share while B carries the rows
            assert share_b == gen.HOT_SHARE and share_a < 0.1


def test_expected_totals_is_exact_groupby():
    plan = gen.stream_plan(9, 1, 6, 300, 16)
    want: dict[int, tuple[int, float]] = {}
    for f in plan.files:
        for k, v in zip(f.table["user_id"].to_pylist(), f.table["value"].to_pylist()):
            c, s = want.get(k, (0, 0.0))
            want[k] = (c + 1, s + v)
    assert gen.expected_totals(plan) == want
    assert sum(c for c, _ in want.values()) == plan.rows == 1800
