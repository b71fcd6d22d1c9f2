"""Span tooling: self time, tail quantile and SQL metric parsing."""

from __future__ import annotations

import json

import pytest

from perfbench.trace import Span, Tracer, covered, metric_total, self_times, tail


def _s(i, start, end, parent=None):
    return Span(i, f"s{i}", "t", parent, start, end)


def test_self_time_subtracts_children():
    spans = [_s(0, 0.0, 10.0), _s(1, 1.0, 3.0, 0), _s(2, 5.0, 6.0, 0), _s(3, 1.5, 2.0, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(7.0)  # 10 - (2 + 1)
    assert st[1] == pytest.approx(1.5)  # 2 - 0.5
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(0.5)


def test_self_time_counts_overlapping_children_once():
    # two children from different threads overlap in [2, 3]
    spans = [_s(0, 0.0, 10.0), _s(1, 1.0, 3.0, 0), _s(2, 2.0, 4.0, 0)]
    assert self_times(spans)[0] == pytest.approx(7.0)


def test_self_time_clips_children_to_parent():
    # an asynchronous child that outlives its parent covers only the overlap
    spans = [_s(0, 0.0, 4.0), _s(1, 3.0, 9.0, 0), _s(2, -1.0, 1.0, 0)]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_covered_unions_intervals():
    assert covered([], 0, 1) == 0
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1.0)


def test_tracer_nests_and_writes_once(tmp_path):
    tr = Tracer(True)
    with tr.span("outer", trace="r1") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and inner.trace == "r1"
    path = tmp_path / "out" / "spans.jsonl"
    tr.write(str(path))
    rows = [json.loads(x) for x in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["outer", "inner"]
    assert rows[0]["self"] == pytest.approx(outer.duration - inner.duration)
    assert tr.cost >= 0


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_tail_keeps_ten_samples_beyond():
    assert tail([3.0, 1.0, 2.0]) == 3.0
    xs = list(range(100))
    assert tail(xs) == 89  # ten samples (90..99) lie beyond it
    assert tail([]) == 0.0


def test_metric_total_parses_spark_formats():
    assert metric_total("43") == 43
    assert metric_total("4,000") == 4000
    assert metric_total("163.0 KiB") == 163.0 * 1024
    assert metric_total("total (min, med, max (stageId: taskId))\n1.5 s (0.1 s, 0.2 s, 0.5 s)") == 1.5
    assert metric_total("total (min, med, max (stageId: taskId))\n250 ms (1 ms, 2 ms, 3 ms)") == 0.25
