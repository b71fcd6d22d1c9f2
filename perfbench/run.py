"""Layered benchmark: one command for every workload.

    python3 perfbench/run.py --workload python_stateful --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[nproc]`` in this process and prints, as the
last line of standard output, one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

``--trace 0`` reports the end-to-end metrics, measured with tracing off.
``--trace 1`` reports the per-layer metrics: the run measures both
untraced and with spans and status-store reads on, reports the difference
as ``trace_overhead.*`` and writes the spans once, at the end, to
``.perfbench_out/spans-<workload>-<seed>.jsonl``. Metric definitions and
which layer should move which end-to-end metric are in README.md.

Inputs come from ``--seed`` alone. Run scratch lives under
``.perfbench_tmp/`` in the working directory and is removed on exit. A
failed or wrong operation makes the command exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("python_stateful", "skew_stream")

#: end-to-end metric -> unit
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


#: per-layer counts that two traced runs with the same seed must agree on
#: exactly; every other count depends on timing and is reported with its
#: spread over runs
EXACT_COUNTS = (
    "queries.build_jobs", "spark.exec_jobs", "spark.scan_rows",
    "streaming.batches", "streaming.compactions", "streaming.observe_jobs",
    "reshape.detect_batches", "reshape.cancel_batches",
    "reshape.routing_changes", "reshape.salts_max",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in report order. A workload
    reports 0 for the metrics of layers it does not run."""
    from perfbench.batch import QUERIES

    names = [
        "session.start_s", "session.load_tables_s",
        "queries.build_s", "queries.build_jobs", "queries.geomean_s",
        "spark.plan_s", "spark.exec_s", "spark.exec_jobs", "spark.tasks",
        "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.scan_rows",
        "spark.shuffle_bytes", "spark.shuffle_fetch_wait_s", "spark.spill_bytes",
        "spark.core_busy_share", "spark.task_skew",
        "python_workers.run_s", "python_workers.start_s",
        "python_workers.bytes_sent", "python_workers.bytes_returned",
        "streaming.batch_p50_s", "streaming.batch_tail_s",
        "streaming.paced_batches", "streaming.batches", "streaming.add_batch_s",
        "streaming.wal_commit_s", "streaming.sink_write_s", "streaming.compact_s",
        "streaming.compactions", "streaming.observe_s", "streaming.observe_jobs",
        "streaming.source_lag_s", "streaming.gen_late_s",
        "streaming.drain_rows_per_s",
        "reshape.detect_batches", "reshape.cancel_batches",
        "reshape.routing_changes", "reshape.paced_routing_changes",
        "reshape.salts_max", "reshape.hot_stage_skew",
        "memory.peak_rss_mb",
    ]
    names += [f"trace_overhead.{m}" for m in END_TO_END]
    names.append("trace_overhead.peak_rss_mb")
    names += [f"q.{q}.{k}" for q in QUERIES for k in ("build_s", "plan_s", "exec_s")]
    return {n: unit_of(n) for n in names}


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.startswith("trace_overhead."):
        return END_TO_END[name.split(".", 1)[1]]
    if "bytes" in name:
        return "B"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("share") or name.endswith("skew"):
        return "ratio"
    return "count"


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, tmp: str, tracer, rss):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tmp = tmp
        self.tracer = tracer
        self.rss = rss
        self.cores = len(os.sched_getaffinity(0))
        self.confs = {
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }


def _stop_spark() -> None:
    """Stop the session, then the JVM the session started, and wait."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # imported before anything runs: outside a full checkout this fails
    import reshape_on_flink_spark.session  # noqa: F401
    from perfbench import batch, stream
    from perfbench.trace import RssSampler, Tracer

    tmp = os.path.abspath(os.path.join(".perfbench_tmp", f"run-{os.getpid()}"))
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts would otherwise keep a perf-data file
    # in /tmp, outside the working directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    tracer = Tracer(args.trace == 1)
    try:
        with RssSampler() as rss:
            ctx = Context(args, tmp, tracer, rss)
            runner = stream.run if args.workload == "skew_stream" else batch.run
            res = runner(ctx)
    finally:
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it

    failures = res["failures"]
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    if args.trace:
        tracer.write(os.path.join(
            ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"
        ))
        values = dict(res.get("layers", {}), **{"memory.peak_rss_mb": res["e2e"]["peak_rss_mb"]})
        values.update({f"trace_overhead.{k}": v for k, v in res.get("overhead", {}).items()})
        units = per_layer_units()
    else:
        values = res["e2e"]
        units = END_TO_END
    metrics = {
        n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()
    }
    failed = min(len(failures), res["attempted"])
    print(json.dumps({
        "correct": not failures,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
