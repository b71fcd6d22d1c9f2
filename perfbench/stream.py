"""The ``skew_stream`` workload: a file-source stream through
``ReshapeStreamingAgg(engine="process")`` with the controller on and a
``PartialUpsertSink``.

Two measured phases, each over its own seeded event files that walk the
uniform -> hot A -> hot B schedule (``gen.stream_plan``):

- paced (open loop): a generator thread moves file ``i`` into the source
  directory at ``t0 + i * PACED_PERIOD_S`` whatever the query is doing.
  A file's latency runs from when it was due to the end of the
  ``process_batch`` call (the sink epoch commit) of the micro-batch that
  read it.
- drain (closed loop): the whole backlog is staged before the query
  starts and read ``DRAIN_FILES_PER_BATCH`` files per micro-batch, so the
  batch boundaries, and with them the controller's decisions, are fixed
  by the seed.

Which file each micro-batch read comes from the file source's own log in
the checkpoint, parsed after the phase. Each phase ends with an exact
check of ``sink.result_df()`` against a groupBy over its generated events.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from perfbench import gen
from perfbench.trace import STAGE_SUMS, SparkProbe, median, self_times, tail

N_KEYS = 64
PACED_PERIOD_S = 0.1
PACED_SHARE = 0.6  # of --seconds spent generating the paced phase
PACED_ROWS = 1_000
DRAIN_ROWS = 4_000
DRAIN_FILES_PER_BATCH = 3
COMPACT_EVERY = 3


def _source_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


class _Phase:
    """One streaming query over one set of event files."""

    def __init__(self, ctx, spark, plan: gen.StreamPlan, name: str, traced: bool):
        from reshape_on_flink_spark.streaming.reshape import (
            PartialUpsertSink,
            ReshapeConf,
            ReshapeStreamingAgg,
        )

        self.ctx, self.spark, self.plan, self.name = ctx, spark, plan, name
        self.traced = traced
        base = os.path.join(ctx.tmp, name)
        self.in_dir = os.path.join(base, "in")
        self.stage_dir = os.path.join(base, "stage")
        self.ckpt = os.path.join(base, "ckpt")
        for d in (self.in_dir, self.stage_dir):
            os.makedirs(d)
        self.sink = PartialUpsertSink(
            spark, os.path.join(base, "sink"), "user_id", compact_every=COMPACT_EVERY
        )
        self.agg = ReshapeStreamingAgg(
            "user_id", "value", "event_id",
            ReshapeConf(enabled=True, parallelism=ctx.cores, freq_ms=0),
            sink=self.sink, engine="process",
        )
        self.commits: dict[int, tuple[float, float]] = {}
        self.routing: dict[int, dict] = {}
        self.batch_jobs: dict[int, list[int]] = {}
        self.observe_jobs = 0
        self.probe = SparkProbe(spark) if traced else None
        self.query = None

    # -- tracing ---------------------------------------------------------
    def _instrument(self):
        """Spans around the layer calls ``process_batch`` makes; returns
        an undo function."""
        from reshape_on_flink_spark.streaming import reshape

        tr = self.ctx.tracer
        tr.wrap(self.sink, "write", "streaming.sink_write")
        tr.wrap(self.sink, "compact", "streaming.compact")
        tr.wrap(self.agg.controller, "observe", "reshape.controller_observe")
        saved = reshape.observe_candidates, reshape.keyed_process_agg
        observe = saved[0]
        probe = self.probe

        def observe_candidates(merged, *args, **kwargs):
            before = probe.job_count()
            with tr.span("streaming.observe_candidates"):
                out = observe(merged, *args, **kwargs)
            self.observe_jobs += probe.job_count() - before
            return out

        reshape.observe_candidates = observe_candidates
        tr.wrap(reshape, "keyed_process_agg", "streaming.build_agg")

        def undo():
            reshape.observe_candidates, reshape.keyed_process_agg = saved

        return undo

    def _process(self, batch_df, epoch_id: int) -> None:
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        if self.traced:
            before = self.probe.job_count()
            with tr.span("streaming.process_batch", trace=f"{self.name}.{epoch_id}"):
                self.agg.process_batch(batch_df, epoch_id)
            t1 = time.perf_counter()
            self.batch_jobs[epoch_id] = range(before, self.probe.job_count())
            self.probe.drain()
        else:
            self.agg.process_batch(batch_df, epoch_id)
            t1 = time.perf_counter()
        self.commits[epoch_id] = (t0, t1)
        self.routing[epoch_id] = self.agg.routing_history[-1]

    def _start(self, drain: bool):
        reader = self.spark.readStream.schema(gen.STREAM_SCHEMA)
        if drain:
            reader = reader.option("maxFilesPerTrigger", DRAIN_FILES_PER_BATCH)
        writer = (
            reader.parquet(self.in_dir).writeStream.outputMode("update")
            .foreachBatch(self._process)
            .option("checkpointLocation", self.ckpt)
        )
        if drain:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- phases ----------------------------------------------------------
    def run_paced(self) -> None:
        undo = self._instrument() if self.traced else None
        try:
            self.first_exec = self.probe.last_execution() if self.traced else -1
            self.query = self._start(drain=False)
            self.due: dict[str, float] = {}
            self.written: dict[str, float] = {}
            t0 = time.perf_counter() + 0.5
            gen_thread = threading.Thread(target=self._generate, args=(t0,))
            gen_thread.start()
            gen_thread.join()
            self.query.processAllAvailable()
            self.query.stop()
        finally:
            if undo:
                undo()

    def _generate(self, t0: float) -> None:
        """Open-loop generator: keeps its schedule however the query runs."""
        for f in self.plan.files:
            due = t0 + f.index * PACED_PERIOD_S
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            name = os.path.basename(gen.write_stream_file(f, self.in_dir, self.stage_dir))
            self.due[name] = due
            self.written[name] = time.perf_counter()

    def run_drain(self) -> None:
        for f in self.plan.files:
            gen.write_stream_file(f, self.in_dir, self.stage_dir)
        undo = self._instrument() if self.traced else None
        try:
            self.first_exec = self.probe.last_execution() if self.traced else -1
            self.query = self._start(drain=True)
            self.query.awaitTermination()
        finally:
            if undo:
                undo()

    def check(self) -> list[str]:
        """Exact comparison of the sink's merged result with the events."""
        want = gen.expected_totals(self.plan)
        got = {
            r["user_id"]: (r["cnt"], r["sum_value"])
            for r in self.sink.result_df().collect()
        }
        if got == want:
            return []
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        return [f"{self.name}: {len(bad)} keys differ, e.g. {bad[:3]}"]

    def batch_of(self) -> dict[str, int]:
        return _source_batches(self.ckpt)

    def progress(self) -> list[dict]:
        return [p for p in self.query.recentProgress if p.get("numInputRows", 0) > 0]


def _paced_e2e(ph: _Phase) -> dict:
    batch = ph.batch_of()
    lat = [
        ph.commits[batch[n]][1] - due
        for n, due in ph.due.items() if batch.get(n) in ph.commits
    ]
    return {"latency_p50_s": median(lat), "latency_tail_s": tail(lat)}


def _drain_e2e(ph: _Phase) -> dict:
    """Steady state: from the first micro-batch's commit to the last's."""
    ends = sorted(end for _, end in ph.commits.values())
    return {"pass_s": ends[-1] - ends[0]}


def _segments(ph: _Phase) -> dict[int, set[str]]:
    """Micro-batch id -> schedule segments of the files it read."""
    seg = {f"events-{f.index:05d}.parquet": f.segment for f in ph.plan.files}
    out: dict[int, set[str]] = {}
    for name, b in ph.batch_of().items():
        out.setdefault(b, set()).add(seg[name])
    return out


def _first(epochs, pred) -> int | None:
    return next((e for e in sorted(epochs) if pred(e)), None)


def _reshape_counts(ph: _Phase) -> dict:
    segs = _segments(ph)
    a = ph.plan.hot_a
    onset_a = _first(segs, lambda e: "hot_a" in segs[e])
    routed_a = _first(ph.routing, lambda e: a in ph.routing[e])
    onset_b = _first(segs, lambda e: "hot_b" in segs[e])
    cancel_a = _first(
        ph.routing, lambda e: e >= (onset_b or 0) and a not in ph.routing[e]
    )
    prev, changes = {}, 0
    for e in sorted(ph.routing):
        changes += ph.routing[e] != prev
        prev = ph.routing[e]
    return {
        "detect": (routed_a - onset_a) if None not in (routed_a, onset_a) else -1,
        "cancel": (cancel_a - onset_b) if None not in (cancel_a, onset_b) else -1,
        "changes": changes,
        "salts_max": max((n for r in ph.routing.values() for n in r.values()), default=0),
    }


def run(ctx) -> dict:
    from reshape_on_flink_spark.session import get_spark

    tr = ctx.tracer
    n_paced = max(12, int(ctx.seconds * PACED_SHARE / PACED_PERIOD_S))
    n_drain = 3 * DRAIN_FILES_PER_BATCH * max(2, round(ctx.seconds / 3))
    t0 = time.perf_counter()
    with tr.span("setup", trace="setup"):
        with tr.span("session.start") as s_start:
            spark = get_spark("perfbench", cores=ctx.cores, extra_confs=ctx.confs)
        with tr.span("setup.gen"):
            # the drain's own file and batch size, so the measured drain
            # starts past the JIT warm-up for that shape
            warm_plan = gen.stream_plan(ctx.seed, 0, 6 * DRAIN_FILES_PER_BATCH,
                                        DRAIN_ROWS, N_KEYS)
            plans = {
                "paced": gen.stream_plan(ctx.seed, 1, n_paced, PACED_ROWS, N_KEYS),
                "drain": gen.stream_plan(ctx.seed, 2, n_drain, DRAIN_ROWS, N_KEYS),
            }
        with tr.span("setup.warm_pass"):
            warm = _Phase(ctx, spark, warm_plan, "warm", False)
            warm.run_drain()
    setup_s = time.perf_counter() - t0
    setup_cost = tr.cost
    setup_rss = ctx.rss.window()
    failures: list[str] = warm.check()

    # a traced run repeats each phase traced right after its untraced
    # twin, so the two see the same warm-up state
    phases: dict[tuple[str, bool], _Phase] = {}
    rss = {False: setup_rss, True: 0.0}
    for kind, plan in plans.items():
        for traced in (False, True) if ctx.trace else (False,):
            ph = _Phase(ctx, spark, plan, f"{'t' if traced else 'm'}_{kind}", traced)
            ph.run_paced() if kind == "paced" else ph.run_drain()
            rss[traced] = max(rss[traced], ctx.rss.window())
            failures += ph.check()
            if kind == "paced":
                missing = [n for n in ph.due if n not in ph.batch_of()]
                failures += [f"{ph.name}: {len(missing)} files never committed"] if missing else []
            phases[kind, traced] = ph

    def e2e(traced: bool) -> dict:
        return {
            "setup_s": setup_s,
            **_paced_e2e(phases["paced", traced]),
            **_drain_e2e(phases["drain", traced]),
            "peak_rss_mb": rss[traced],
        }

    files = sum(len(p.files) for p in plans.values())
    out = {"e2e": e2e(False), "attempted": files * (2 if ctx.trace else 1),
           "failures": failures}
    if ctx.trace and not failures:
        out["overhead"] = {k: v - out["e2e"][k] for k, v in e2e(True).items()}
        out["overhead"]["setup_s"] = setup_cost
        out["layers"] = _layers(ctx, phases["paced", True], phases["drain", True],
                                s_start.duration)
    return out


def _layers(ctx, paced: _Phase, drain: _Phase, start_s: float) -> dict:
    tr = ctx.tracer
    probe = drain.probe

    def per_batch(phase: _Phase, name: str) -> list[float]:
        """Per micro-batch total duration of the ``name`` spans."""
        tot: dict[str, float] = {}
        for s in tr.spans:
            if s.name == name and s.trace.startswith(phase.name + "."):
                tot[s.trace] = tot.get(s.trace, 0.0) + s.duration
        return [tot.get(f"{phase.name}.{e}", 0.0) for e in sorted(phase.commits)]

    batch_s = per_batch(paced, "streaming.process_batch")
    observe = [
        a + b for a, b in zip(per_batch(paced, "streaming.observe_candidates"),
                              per_batch(paced, "reshape.controller_observe"))
    ]
    st = self_times(tr.spans)
    sink_self = {}
    for s in tr.spans:
        if s.name == "streaming.sink_write" and s.trace.startswith(paced.name + "."):
            sink_self[s.trace] = sink_self.get(s.trace, 0.0) + st[s.id]
    progress = paced.progress()

    # paced lag: at each commit, how long the oldest due but unread file waited
    batch = paced.batch_of()
    lags = []
    for e, (_, end) in paced.commits.items():
        waiting = [d for n, d in paced.due.items() if d <= end and batch.get(n, 1 << 30) > e]
        lags.append(end - min(waiting) if waiting else 0.0)

    counts = _reshape_counts(drain)
    segs = _segments(drain)
    hot_skews = []
    for e, jobs in drain.batch_jobs.items():
        if segs.get(e, set()) & {"hot_a", "hot_b"}:
            hot_skews.append(max(probe.stages(jobs)["skews"], default=0.0))
    drain_jobs = [j for e in sorted(drain.batch_jobs) for j in drain.batch_jobs[e]]
    stages = probe.stages(drain_jobs)
    ends = sorted(end for _, end in drain.commits.values())
    drain_wall = ends[-1] - ends[0]
    busy_wall = ends[-1] - min(start for start, _ in drain.commits.values())
    rows_after_first = drain.plan.rows - DRAIN_ROWS * DRAIN_FILES_PER_BATCH
    layers = {
        "session.start_s": start_s,
        "streaming.batch_p50_s": median(batch_s),
        "streaming.batch_tail_s": tail(batch_s),
        "streaming.paced_batches": len(paced.commits),
        "streaming.batches": len(drain.commits),
        "streaming.add_batch_s": median(p["durationMs"].get("addBatch", 0) / 1e3 for p in progress),
        "streaming.wal_commit_s": median(
            (p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)) / 1e3
            for p in progress
        ),
        "streaming.sink_write_s": median(sink_self.values()),
        "streaming.compact_s": sum(s.duration for s in tr.select("streaming.compact", paced.name)),
        "streaming.compactions": len(tr.select("streaming.compact", drain.name)),
        "streaming.observe_s": median(observe),
        "streaming.observe_jobs": drain.observe_jobs,
        "streaming.source_lag_s": max(lags, default=0.0),
        "streaming.gen_late_s": max(
            (paced.written[n] - paced.due[n] for n in paced.due), default=0.0
        ),
        "streaming.drain_rows_per_s": rows_after_first / drain_wall,
        "reshape.detect_batches": counts["detect"],
        "reshape.cancel_batches": counts["cancel"],
        "reshape.routing_changes": counts["changes"],
        "reshape.salts_max": counts["salts_max"],
        "reshape.hot_stage_skew": median(hot_skews),
        "reshape.paced_routing_changes": _reshape_counts(paced)["changes"],
        "spark.exec_s": sum(b - a for a, b in drain.commits.values()),
        "spark.exec_jobs": len(drain_jobs),
        "spark.core_busy_share": stages["task_run_s"] / (busy_wall * ctx.cores),
        "spark.task_skew": max(stages["skews"], default=0.0),
    }
    for k in STAGE_SUMS:
        layers[f"spark.{k}"] = stages[k]
    for k, v in probe.python_workers(drain.first_exec).items():
        layers[f"python_workers.{k}"] = v
    return layers
