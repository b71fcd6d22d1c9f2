"""Seeded input generation: the ``events`` table and the skew stream.

Everything here is a pure function of its arguments (``seed`` above all),
so two runs with the same seed read byte-identical inputs.

``events`` is the only table the benchmarked queries read. It follows the
fixture schema in FIXTURES.md and the fixture's distributions as the
fixture files hold them: 1M x sf rows, ``user_id`` uniform over
|customer| / 10 users (at sf0.01 a chi-square of 159 on 149 degrees of
freedom against uniform, top user 0.86% of rows), distinct ordered ``ts``
over January 2024, ``value`` exponential with mean 50.

The stream is a list of event files. Each phase of it (the paced phase and
the drain backlog) walks the same key-mix schedule over its files, in
thirds: uniform keys, then key A carries ``HOT_SHARE`` of every file, then
key B does and A falls back to the uniform share.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_SHARE = 0.9
SEGMENTS = ("uniform", "hot_a", "hot_b")

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def make_events(sf: float, seed: int) -> pa.Table:
    """The ``events`` table at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n = int(1_000_000 * sf)
    users = max(15, int(15_000 * sf))
    month_us = 30 * 86_400_000_000
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        # distinct, ordered event times over one month
        "ts": pa.array(start + np.sort(rng.choice(month_us, n, replace=False)),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, users, n),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_events(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(make_events(sf, seed), os.path.join(out_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# skew stream
# ---------------------------------------------------------------------------

STREAM_SCHEMA = "event_id BIGINT, user_id BIGINT, value DOUBLE"


@dataclass(frozen=True)
class StreamFile:
    index: int
    segment: str  # one of SEGMENTS
    table: pa.Table


@dataclass(frozen=True)
class StreamPlan:
    hot_a: int
    hot_b: int
    n_keys: int
    files: tuple[StreamFile, ...]

    @property
    def rows(self) -> int:
        return sum(f.table.num_rows for f in self.files)


def segment_of(index: int, n_files: int) -> str:
    return SEGMENTS[min(2, index * 3 // n_files)]


def stream_plan(
    seed: int, phase: int, n_files: int, rows_per_file: int, n_keys: int,
) -> StreamPlan:
    """Files of one stream phase. ``phase`` separates the draws of the
    phases of one run; the hot keys are the same for every phase of a
    seed, so each phase replays the schedule for the same A and B."""
    hot_a, hot_b = (
        int(k) for k in np.random.default_rng([seed, 2]).choice(n_keys, 2, replace=False)
    )
    rng = np.random.default_rng([seed, 3, phase])
    files = []
    eid = 0
    n_hot = round(HOT_SHARE * rows_per_file)
    for i in range(n_files):
        seg = segment_of(i, n_files)
        keys = rng.integers(0, n_keys, rows_per_file)
        if seg != "uniform":
            hot = hot_a if seg == "hot_a" else hot_b
            cold = rng.integers(0, n_keys - 1, rows_per_file - n_hot)
            cold[cold >= hot] += 1  # uniform over the other keys
            keys = rng.permutation(np.concatenate([np.full(n_hot, hot), cold]))
        table = pa.table({
            "event_id": np.arange(eid, eid + rows_per_file, dtype=np.int64),
            "user_id": keys.astype(np.int64),
            # whole numbers: float sums are exact in any order
            "value": rng.integers(0, 10_000, rows_per_file).astype(np.float64),
        })
        files.append(StreamFile(i, seg, table))
        eid += rows_per_file
    return StreamPlan(hot_a, hot_b, n_keys, tuple(files))


def write_stream_file(f: StreamFile, in_dir: str, stage_dir: str) -> str:
    """Write one event file and move it into ``in_dir`` in one rename, so
    the file source never lists a partial file."""
    name = f"events-{f.index:05d}.parquet"
    staged = os.path.join(stage_dir, name)
    pq.write_table(f.table, staged)
    final = os.path.join(in_dir, name)
    os.replace(staged, final)
    return final


def expected_totals(plan: StreamPlan) -> dict[int, tuple[int, float]]:
    """Exact per-key (count, sum of value) over every event of ``plan``."""
    keys = np.concatenate([f.table["user_id"].to_numpy() for f in plan.files])
    vals = np.concatenate([f.table["value"].to_numpy() for f in plan.files])
    cnt = np.bincount(keys, minlength=plan.n_keys)
    tot = np.bincount(keys, weights=vals, minlength=plan.n_keys)
    return {k: (int(cnt[k]), float(tot[k])) for k in np.nonzero(cnt)[0].tolist()}
