"""The ``python_stateful`` workload: closed loop, one client, passes over
the Python-heavy and driver-heavy queries.

Set-up starts the session, generates ``events`` and runs the warm passes:
one whose collected results are hash-matched against each query's DuckDB
oracle, then ``WARM_PASSES`` noop passes. The measured passes then write
every query to the noop sink, in a seeded order per pass, until the run's
time is used up and at least ``MIN_PASSES`` have run.

In a traced run the measured passes alternate untraced and traced. A
traced pass splits each query into build (``queries[name](spark, dir)``),
plan (the analysis, optimization and planning phases of the noop write's
QueryExecution) and exec (the rest of the noop write), and reads the jobs,
stages and SQL metrics each phase produced.
"""

from __future__ import annotations

import math
import os
import random
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.trace import PYTHON_METRICS, STAGE_SUMS, SparkProbe, median, tail

#: the changelog join replay (``streaming/changelog``: driver build with
#: eager jobs, then a Python replay) and the coreness fixed point
#: (``operators/iterate``: one eager job per round, all during build)
QUERIES = ("q_changelog_join_transitions", "q_graph_coreness")
SCALE_FACTOR = 0.01
#: ``events`` is the same for every run: like TPC-H's dbgen data it is
#: a fixed data set, so the figures move with the program and the
#: seed-ordered passes, not with a redrawn data set.
TABLE_SEED = 42
#: the passes right after the oracle pass still speed up as the JIT warms
WARM_PASSES = 1
MIN_PASSES = 3

def oracle_check(spark, queries, oracles, data_dir: str, names, failures: list) -> None:
    """Warm pass: collect each query and compare it with its oracle."""
    import duckdb

    from tools.oracle_check import TABLES, canonical_hash

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    try:
        for name in names:
            try:
                got = canonical_hash(queries[name](spark, data_dir).toPandas())
                want = canonical_hash(con.execute(oracles[name]).fetchdf())
            except Exception as ex:  # a failing query is a counted failure
                failures.append(f"{name}: {type(ex).__name__}: {ex}")
                continue
            if got != want:
                failures.append(
                    f"{name}: rows {got[0]}/{want[0]} cols {got[1]}/{want[1]} "
                    f"hash {got[2][:10]}/{want[2][:10]}"
                )
    finally:
        con.close()


@dataclass
class _QueryTrace:
    """Per-query layer record of one traced pass."""

    build_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    build_jobs: int = 0
    exec_jobs: int = 0
    stages: dict = field(default_factory=dict)
    python: dict = field(default_factory=dict)


def _traced_query(ctx, probe, spark, queries, name: str, data_dir: str, tag: str):
    rec = _QueryTrace()
    tr = ctx.tracer
    with tr.span("query", trace=f"{tag}.{name}"):
        probe.drain()
        first_exec = probe.last_execution()
        j0 = probe.job_count()
        with tr.span("queries.build") as s:
            df = queries[name](spark, data_dir)
        rec.build_s = s.duration
        j1 = probe.job_count()
        with probe.planning() as plan_s, tr.span("spark.exec") as s:
            df.write.format("noop").mode("overwrite").save()
        # the write plans its own QueryExecution: its planning phases are
        # part of the write's span
        rec.plan_s = sum(plan_s)
        rec.exec_s = s.duration - rec.plan_s
        j2 = probe.job_count()
        rec.build_jobs, rec.exec_jobs = j1 - j0, j2 - j1
        rec.stages = probe.stages(range(j0, j2))
        rec.python = probe.python_workers(first_exec)
    return rec


def run(ctx) -> dict:
    """Run the workload; return its results for run.py."""
    from reshape_on_flink_spark.queries import merged
    from reshape_on_flink_spark.session import get_spark, load_tables

    names = QUERIES
    rng = random.Random(ctx.seed)

    def run_noop(name: str) -> None:
        queries[name](spark, data_dir).write.format("noop").mode("overwrite").save()

    tr = ctx.tracer
    failures: list[str] = []
    data_dir = os.path.join(ctx.tmp, "tables")

    t0 = time.perf_counter()
    with tr.span("setup", trace="setup"):
        with tr.span("session.start") as s_start:
            spark = get_spark("perfbench", cores=ctx.cores, extra_confs=ctx.confs)
        with tr.span("setup.gen"):
            gen.write_events(data_dir, SCALE_FACTOR, TABLE_SEED)
        with tr.span("session.load_tables") as s_load:
            load_tables(spark, data_dir)
        queries, oracles = merged()
        with tr.span("setup.warm_pass"):
            oracle_check(spark, queries, oracles, data_dir,
                         rng.sample(names, len(names)), failures)
            for _ in range(WARM_PASSES):
                for name in rng.sample(names, len(names)):
                    run_noop(name)
    setup_s = time.perf_counter() - t0
    setup_cost = tr.cost
    setup_rss = ctx.rss.window()

    probe = SparkProbe(spark) if ctx.trace else None
    times = {True: {n: [] for n in names}, False: {n: [] for n in names}}
    passes = {True: [], False: []}
    rss = {True: 0.0, False: 0.0}
    traces: list[dict[str, _QueryTrace]] = []
    attempted = len(names) * (1 + WARM_PASSES)
    t_measure = time.perf_counter()
    p = 0
    while True:
        traced = ctx.trace and p % 2 == 1
        order = rng.sample(names, len(names))
        recs: dict[str, _QueryTrace] = {}
        t_pass = time.perf_counter()
        for name in order:
            attempted += 1
            t_q = time.perf_counter()
            try:
                if traced:
                    recs[name] = _traced_query(ctx, probe, spark, queries, name,
                                               data_dir, f"p{p}")
                else:
                    run_noop(name)
            except Exception as ex:
                failures.append(f"{name} (pass {p}): {type(ex).__name__}: {ex}")
                continue
            times[traced][name].append(time.perf_counter() - t_q)
        passes[traced].append(time.perf_counter() - t_pass)
        rss[traced] = max(rss[traced], ctx.rss.window())
        if traced:
            traces.append(recs)
        p += 1
        if time.perf_counter() - t_measure >= ctx.seconds and p >= MIN_PASSES:
            break

    def e2e(traced: bool) -> dict:
        per_query = [median(times[traced][n]) for n in names if times[traced][n]]
        return {
            "setup_s": setup_s,
            "pass_s": median(passes[traced]),
            "latency_p50_s": median(per_query),
            "latency_tail_s": tail(per_query),
            "peak_rss_mb": max(setup_rss, rss[traced]),
        }

    out = {
        "e2e": e2e(False),
        "attempted": attempted,
        "failures": failures,
    }
    if ctx.trace and not failures:
        out["overhead"] = {k: v - out["e2e"][k] for k, v in e2e(True).items()}
        out["overhead"]["setup_s"] = setup_cost
        out["layers"] = _layers(ctx, names, times, passes, traces,
                                s_start.duration, s_load.duration)
    return out


def _layers(ctx, names, times, passes, traces, start_s: float, load_s: float) -> dict:
    """Per-layer metrics: medians over the traced passes."""
    def med(fn):
        return median(fn(t) for t in traces)

    layers = {
        "session.start_s": start_s,
        "session.load_tables_s": load_s,
        "queries.build_s": med(lambda t: sum(r.build_s for r in t.values())),
        "queries.build_jobs": med(lambda t: sum(r.build_jobs for r in t.values())),
        "queries.geomean_s": math.exp(
            sum(math.log(max(median(times[False][n]), 1e-9)) for n in names) / len(names)
        ),
        "spark.plan_s": med(lambda t: sum(r.plan_s for r in t.values())),
        "spark.exec_s": med(lambda t: sum(r.exec_s for r in t.values())),
        "spark.exec_jobs": med(lambda t: sum(r.exec_jobs for r in t.values())),
    }
    for k in STAGE_SUMS:
        layers[f"spark.{k}"] = med(lambda t: sum(r.stages[k] for r in t.values()))
    wall = median(passes[True])
    layers["spark.core_busy_share"] = layers["spark.task_run_s"] / (wall * ctx.cores)
    layers["spark.task_skew"] = med(
        lambda t: max((x for r in t.values() for x in r.stages["skews"]), default=0.0)
    )
    for k in PYTHON_METRICS.values():
        layers[f"python_workers.{k}"] = med(lambda t: sum(r.python[k] for r in t.values()))
    for n in names:
        for k in ("build_s", "plan_s", "exec_s"):
            layers[f"q.{n}.{k}"] = med(lambda t: getattr(t[n], k))
    return layers
