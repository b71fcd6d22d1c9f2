"""Coreness second-decade instrumentation (round 13 continuation).

The r13 sf10 probe's q_graph_coreness run TIMED OUT (>3000 s where the
first-decade exponent predicted ~80 s). This probe answers the verdict's
question — rounds or per-round cost? — and separates the OPERATOR from
the FIXTURE:

1. graph-growth table: the sfN replication keeps the 30-day event span,
   so (minute, event_type) co-occurrence buckets MERGE across copies —
   bucket size grows ~linearly with copies and pairs-per-bucket grows
   ~quadratically. Measured here: sf0.1 -> sf1 edges grow 103x for 10x
   events (23,003 -> 2,367,800; avg degree 32 -> 316); the sf10 pair
   bound is 727M (the DuckDB edge dedup itself exceeds 550 s). The sf10
   coreness timeout measured graph DENSIFICATION, not operator
   super-linearity.
2. instrumented coreness (operators/iterate.coreness on_round hook) on:
   - sf0.1 fixture graph (baseline: rounds + per-round wall),
   - the sf1 densified graph (what BENCH_*_sf1 measured),
   - a TRUE 100x graph: 100 structure-preserving disjoint copies of the
     sf0.1 graph (both endpoints shifted per copy) — the honest
     second-decade scale-up comparator, 2.3M edges / 144.5k nodes,
   - the densified sf10 graph under the production hot-bucket cap the
     graphs.py docstring prescribes (cap = sf1's observed max bucket,
     keep-lowest-hash per bucket) — optional, --cap to enable.

Writes one JSON line per tier (rounds, per-round seconds, total, block
count, a digest of the result and the peak RSS of the Spark Python
workers so far) so a timeout preserves the completed tiers. Bench
tooling only — the correctness gate is untouched.

    python tools/coreness_probe.py sf0.1 sf1_densified
    python tools/coreness_probe.py --block-edges 1048576 sf1_densified

``--block-edges N`` sets ``operators/iterate.CORENESS_BLOCK_EDGES`` in
this process, to force a many-block run of the same operator.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from reshape_on_flink_spark.operators import iterate  # noqa: E402
from reshape_on_flink_spark.operators.iterate import coreness  # noqa: E402
from reshape_on_flink_spark.queries.graphs import (  # noqa: E402
    cooccurrence_edges,
)
from reshape_on_flink_spark.session import get_spark  # noqa: E402

SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicated_events(spark, copies: int):
    ev = spark.read.parquet(os.path.join(SF01, "events.parquet"))
    cp = spark.range(copies).select(F.col("id").alias("cp"))
    return ev.crossJoin(F.broadcast(cp)).select(
        "ts",
        "event_type",
        (F.col("user_id") + F.col("cp") * 10_000).alias("user_id"),
    )


def true_copies_edges(spark, copies: int):
    """100 structure-preserving disjoint copies of the sf0.1 graph."""
    ev = spark.read.parquet(os.path.join(SF01, "events.parquet"))
    e01 = cooccurrence_edges(ev).localCheckpoint()
    cp = spark.range(copies).select(F.col("id").alias("cp"))
    return e01.crossJoin(F.broadcast(cp)).select(
        (F.col("u") + F.col("cp") * 10_000).alias("u"),
        (F.col("v") + F.col("cp") * 10_000).alias("v"),
    )


def capped_densified_edges(spark, copies: int, cap: int):
    """The densified graph under the production hot-bucket cap
    (graphs.py docstring: 'a production co-occurrence projection caps
    or samples oversized buckets'): keep the cap lowest-hash users per
    (minute, event_type) bucket — deterministic, unbiased by user id."""
    ev = replicated_events(spark, copies)
    occ = ev.select(
        F.date_trunc("minute", "ts").alias("h"),
        F.col("event_type").alias("et"),
        F.col("user_id").alias("u"),
    ).distinct()
    from pyspark.sql import Window as W

    occ = (
        occ.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("h", "et").orderBy(F.xxhash64("u"), "u")
            ),
        )
        .where(F.col("rn") <= cap)
        .drop("rn")
    )
    b = occ.select("h", "et", F.col("u").alias("v"))
    return (
        occ.join(b, ["h", "et"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def _descendants(root: int) -> list[int]:
    parent: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            parent.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        kids = parent.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


class WorkerPeakRss:
    """Polls, on a daemon thread, the peak RSS (VmHWM) of this process's
    Python descendants: the Spark Python worker daemon and the workers
    it forks."""

    def __init__(self, every_s: float = 0.5):
        self.peak_kb = 0
        self._every = every_s
        threading.Thread(target=self._poll, daemon=True).start()

    def _poll(self) -> None:
        while True:
            time.sleep(self._every)
            for pid in _descendants(os.getpid()):
                try:
                    with open(f"/proc/{pid}/status") as f:
                        st = f.read()
                except OSError:
                    continue
                if "python" not in st.split("\n", 1)[0]:
                    continue
                for line in st.splitlines():
                    if line.startswith("VmHWM:"):
                        self.peak_kb = max(self.peak_kb, int(line.split()[1]))

    def mb(self) -> int:
        return self.peak_kb // 1024


def run_tier(name: str, edges, rss: WorkerPeakRss, max_rounds: int = 100):
    rounds: list[float] = []
    t0 = time.perf_counter()
    n_edges = edges.count()
    out = coreness(
        edges, src="u", dst="v", max_iters=max_rounds,
        on_round=lambda i, s: rounds.append(round(s, 2)),
    )
    top = out.agg(
        F.max("coreness").alias("mx"),
        F.count("*").alias("nodes"),
        # order-free digest of the whole result, to compare runs exactly
        F.sum(F.xxhash64("node", "coreness").cast("decimal(38,0)")).alias("digest"),
    ).first()
    total = time.perf_counter() - t0
    rec = {
        "tier": name,
        "edges": n_edges,
        "nodes": top["nodes"],
        "max_coreness": top["mx"],
        "digest": str(top["digest"]),
        "blocks": iterate.coreness_blocks(2 * n_edges),
        "block_edges": iterate.CORENESS_BLOCK_EDGES,
        "rounds": len(rounds),
        "round_secs": rounds,
        "round_sec_median": round(sorted(rounds)[len(rounds) // 2], 2),
        "total_sec": round(total, 1),
        "python_worker_peak_rss_mb": rss.mb(),
    }
    print("TIER " + json.dumps(rec), flush=True)
    return rec


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--block-edges"]:
        iterate.CORENESS_BLOCK_EDGES = int(args[1])
        args = args[2:]
    spark = get_spark("coreness_probe")
    rss = WorkerPeakRss()
    tiers = args or ["sf0.1", "sf1_densified", "sf10_true"]
    recs = []
    for t in tiers:
        if t == "sf0.1":
            ev = spark.read.parquet(os.path.join(SF01, "events.parquet"))
            recs.append(run_tier(t, cooccurrence_edges(ev), rss))
        elif t == "sf1_densified":
            recs.append(
                run_tier(t, cooccurrence_edges(replicated_events(spark, 10)), rss)
            )
        elif t == "sf10_true":
            recs.append(run_tier(t, true_copies_edges(spark, 100), rss))
        elif t.startswith("sf10_cap"):
            cap = int(t[len("sf10_cap"):])
            recs.append(
                run_tier(t, capped_densified_edges(spark, 100, cap), rss)
            )
        else:
            raise SystemExit(f"unknown tier {t!r}")
    print("SUMMARY " + json.dumps(recs))


if __name__ == "__main__":
    main()
