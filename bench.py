"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Methodology (recorded in BASELINE.md): each query is materialized via the
noop sink (full execution, no driver collect); one unmeasured warm pass at
the MEASURED scale factor (JIT + codegen + file-index + shuffle services),
then REPS measured passes, interleaved over the list, with the per-query
MIN reported (host steal only ever adds time, so the minimum is the robust
estimate). The skew_replay pair reports the median of its REPS
steady-state samples instead. Single-sample noise (GC pause, page-cache
miss) was the whole story of the round-2 regression, so the artifact owns
the noise model.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPS = 3

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q_agg_distinct",
    "q_window_running_sum",
    "q_topk_per_group",
    "q_tumble_window",
    "q_session_window",
    "q_interval_join",
    "q_stream_static_join",
    "q_dedup_exact",
    "q_minhash_near_dups",
    "q_simhash",
    "q_similarity_topk",
    "q_text_quality",
    "q_fingerprint",
    # round-2 additions (recorded in BASELINE.md: headline set extended)
    "q_repetition_filter",
    "q_decontaminate",
    "q_match_recognize_nested",
    # round-4 additions: training-corpus assembly + quantization families
    "q_sequence_pack",
    "q_domain_mix_sample",
    "q_embedding_quantize",
    # round-5 additions: unigram LM scoring (skew-split token join),
    # PQ compressed-index search with exact re-rank
    "q_unigram_perplexity",
    "q_similarity_pq_rerank",
    # late round-5: context-window chunking (zero-shuffle corpus assembly)
    # and the composed assembly pipeline (mix->normalize->gate->chunk->pack,
    # single-shuffle plan-pinned)
    "q_doc_chunks",
    "q_corpus_assembly",
    # round-5 continuation: passage-level dedup (two bounded-key
    # shuffles) and the fixed-weight quality classifier (map-only)
    "q_passage_dedup",
    "q_quality_classifier",
    # round-6 continuation: fluent-CEP relaxed-contiguity matching and
    # the h-index coreness fixed point (iterative graph family)
    "q_cep_fluent",
    "q_graph_coreness",
    # round-8: noSkip loop enumeration + SKIP_TILL_ANY stage contiguity
    # (both WITHIN-bounded; the enumerator's cost model under load)
    "q_cep_relaxed_loop",
    "q_cep_followed_by_any",
    # round-9: iterative conditions (DEFINE aggregates) — per-branch
    # Python evaluation on top of the vectorized scan; the cost model
    # for the slow path the IterativeCondition surface adds
    "q_cep_iterative_sum",
    # round-10: timed-out partial matches — per-prefix enumeration +
    # window-lookahead survival joins (the timeout side output's cost
    # model: n-1 extra engine passes over the keyed scan)
    "q_cep_timeout",
    # round-11: timeouts under AfterMatchSkipStrategy — the no_skip
    # passes run twice (partial summaries + output join) plus one
    # full-pattern match pass and the keyed emission-replay shuffle
    "q_cep_timeout_skip",
    # round-11 (verdict #1): the round-10 changelog/rank family joins
    # the headline so the sf1 probe covers the per-record stateful
    # walks across a 10x step — each is ONE keyed shuffle into an
    # applyInPandas replay whose output is the operator's contractual
    # emission history (O(transitions))
    "q_changelog_join_transitions",
    "q_changelog_window_agg",
    "q_changelog_session_agg",
    "q_retractable_topn",
    "q_updatable_topn",
    # round-12: timeouts under greedy() — the sink-guard kill scans add
    # one window-scan column per greedy stage to the same multi-pass
    # timeout shape (no new shuffles beyond the q_cep_timeout model)
    "q_cep_timeout_greedy",
    # round-13: timeouts under greedy()+allowCombinations() — the
    # times(2,3) bound caps the fluid subset enumeration at O(k^2) per
    # start; survival stays the same persist/kill-scan model
    "q_cep_timeout_comb_greedy",
    # round-12 late: group-loop timeouts with until() — the per-
    # iteration-topology prefix plans (1a/1b/between) multiply the
    # engine passes but each stays one keyed scan; the until kill adds
    # one window-scan column shared across plans
    "q_cep_timeout_group_until",
    # round-12 late: optional-tail group-loop timeouts — the fluid-link
    # two-path filter runs inside the per-start enumeration (numpy
    # scans over candidate link gaps), so the cost model stays the
    # multi-pass keyed-scan shape with a branching per-start tree
    "q_cep_timeout_group_opt",
    # round 14: bounded inner quantifiers in group loops (dual runtime
    # counters) — and since round 14 every multi-plan timeout query
    # runs ONE consolidated match pass (match_recognize_multi) instead
    # of one keyed shuffle per prefix plan
    "q_cep_timeout_group_times",
    # round 14 late: GREEDY inner loops in group loops — per-run sink
    # guard on the consolidated prefix enumerations + a 'gap' kill on
    # the loop's sink copy; same one-consolidated-pass cost model
    "q_cep_timeout_group_greedy",
]


def warn_untracked_artifacts() -> None:
    """Remind when round artifacts exist on disk but are not git-tracked.

    Untracked BENCH_r*/CORRECTNESS_r* files have recurred across rounds;
    a loud stderr line at every bench/oracle run makes the omission
    visible before the round closes.
    """
    import glob
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    if os.path.basename(repo) == "tools":
        repo = os.path.dirname(repo)
    try:
        tracked = set(
            subprocess.run(
                ["git", "-C", repo, "ls-files"],
                capture_output=True, text=True, timeout=10,
            ).stdout.splitlines()
        )
    except Exception:
        return
    pats = ["BENCH_r*.json", "CORRECTNESS_r*.json"]
    loose = [
        os.path.basename(p)
        for pat in pats
        for p in glob.glob(os.path.join(repo, pat))
        if os.path.basename(p) not in tracked
    ]
    if loose:
        print(
            f"WARNING: round artifacts not git-tracked: {sorted(loose)} "
            "— `git add` them before the round ends.",
            file=sys.stderr,
        )


def main() -> None:
    warn_untracked_artifacts()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from reshape_on_flink_spark.queries import merged
    from reshape_on_flink_spark.session import get_spark

    queries, _ = merged()
    spark = get_spark("bench")

    def run(name: str) -> None:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # warm pass at the measured SF: JIT + whole-stage-codegen compilation,
    # parquet footer/file-index caches, broadcast build paths — everything
    # a long-lived cluster session would have resident
    for name in HEADLINE:
        run(name)

    # REPS full passes over the list (not REPS back-to-back reps per
    # query): the host shows episodic multi-second steal bursts that
    # poison any 3 consecutive samples of one query; interleaving spreads
    # each query's samples minutes apart. Steal is one-sided (only ever
    # adds time), so the per-query MIN is the robust capability
    # estimator — variance analysis in BASELINE.md (round-5 note).
    samples: dict[str, list] = {name: [] for name in HEADLINE}
    for _ in range(REPS):
        for name in HEADLINE:
            t0 = time.perf_counter()
            run(name)
            samples[name].append(time.perf_counter() - t0)
    timings = {name: round(min(s), 3) for name, s in samples.items()}

    # Reshape skew layer: replay the events stream through
    # ReshapeStreamingAgg (the keyed process stage) with the controller
    # off vs on (same result set). The fixture's users are near-uniform,
    # so this pair measures the control loop's cost per micro-batch;
    # the skew_process_* pair below measures its win on a hot key.
    # Cluster-scale path: results land in the idempotent PartialUpsertSink,
    # nothing key-shaped accumulates on the driver.
    import shutil

    from reshape_on_flink_spark.session import load_tables
    from reshape_on_flink_spark.streaming.reshape import (
        PartialUpsertSink,
        ReshapeConf,
        ReshapeStreamingAgg,
    )
    from reshape_on_flink_spark.streaming.source import chunked_replay

    events = load_tables(spark, sf_dir)["events"]
    startups: dict[str, float] = {}
    for label, enabled in (("skew_replay_plain", False), ("skew_replay_reshape", True)):
        samples, startup_samples = [], []
        for rep in range(REPS):
            replay_dir = os.path.join(".tmp", f"bench_{label}_{rep}")
            ckpt = os.path.join(".tmp", f"bench_{label}_{rep}_ckpt")
            sink_dir = os.path.join(".tmp", f"bench_{label}_{rep}_sink")
            for d in (ckpt, sink_dir):
                shutil.rmtree(d, ignore_errors=True)
            stream = chunked_replay(spark, events, replay_dir, n_chunks=5)
            sink = PartialUpsertSink(spark, sink_dir, "user_id", compact_every=4)
            agg = ReshapeStreamingAgg(
                "user_id", "value", "event_id",
                ReshapeConf(enabled=enabled, parallelism=32, freq_ms=0),
                sink=sink,
            )
            t0 = time.perf_counter()
            q = agg.attach(stream, ckpt)
            q.awaitTermination(300)
            wall = time.perf_counter() - t0
            # decompose: batch 0 carries the one-time streaming bootstrap
            # (query planning, state-store init, codegen) that a long-lived
            # cluster job pays once — report the steady-state mechanism
            # time (batches 1..N) and record the startup constant alongside
            progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            steady = sum(
                p["durationMs"]["triggerExecution"] for p in progress[1:]
            ) / 1000.0
            if progress[1:]:
                samples.append(steady)
                startup_samples.append(wall - steady)
            else:  # decomposition unavailable — fall back to wall clock
                samples.append(wall)
                startup_samples.append(0.0)
            for d in (replay_dir, ckpt, sink_dir):
                shutil.rmtree(d, ignore_errors=True)
        timings[label] = round(statistics.median(samples), 3)
        startups[label] = round(statistics.median(startup_samples), 3)

    # Keyed-process skew pair (round 12): one micro-batch-sized job on a
    # 90%-mass hot key, without and with the controller's routing. A
    # custom keyed stage (applyInPandas — the Flink keyed-stream analog,
    # and the shape of every stateful pandas operator in this repo) is
    # NOT map-side combined: every record of the hot key crosses the
    # shuffle into ONE task and serializes it. Here the controller
    # observes the hot key (the real control loop, not a hardcoded
    # table) and its salted reroute is a wall-clock WIN (~2-2.5x at this
    # size; BASELINE.md round-12).
    from reshape_on_flink_spark.sources.readers import datagen
    from reshape_on_flink_spark.streaming.reshape import (
        ReshapeController,
        keyed_process_agg,
        observe_candidates,
    )

    hot = datagen(spark, 4_800_000, n_keys=200, skew_hot_share=0.9).select(
        "id", "key", "value"
    )
    hot_dir = os.path.join(".tmp", "bench_hotkeys.parquet")
    hot.write.mode("overwrite").parquet(hot_dir)
    hot = spark.read.parquet(hot_dir)
    rconf = ReshapeConf(parallelism=32, freq_ms=0)
    controller = ReshapeController(rconf)
    sink_dir = os.path.join(".tmp", "bench_hotkeys_sink")
    shutil.rmtree(sink_dir, ignore_errors=True)
    sink = PartialUpsertSink(spark, sink_dir, "key", compact_every=10)

    def process_pass(routing: dict, epoch: int) -> None:
        sink.write(
            keyed_process_agg(hot, "key", "value", routing, "id"), epoch
        )

    process_pass({}, 0)  # warm + observation source
    obs = sink.read_epoch(0)
    total_rows, candidates = observe_candidates(obs, "key", rconf, {})
    controller.observe(candidates, total_rows)
    routing = controller.routing()
    assert routing, "controller failed to detect the 90%-mass hot key"
    proc_samples: dict[str, list] = {
        "skew_process_plain": [],
        "skew_process_reshape": [],
    }
    epoch = 1
    for _ in range(REPS):  # interleaved, min-of-REPS (host steal noise)
        for plabel, r in (
            ("skew_process_plain", {}),
            ("skew_process_reshape", routing),
        ):
            t0 = time.perf_counter()
            process_pass(r, epoch)
            proc_samples[plabel].append(time.perf_counter() - t0)
            epoch += 1
    for plabel, s in proc_samples.items():
        timings[plabel] = round(min(s), 3)
    shutil.rmtree(sink_dir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_query_wallclock_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "skew_replay_startup_sec": startups,
                "sf": sf,
                "cores": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)),
                "spark_version": spark.version,
                "methodology": (
                    f"per-query MIN of {REPS} interleaved passes after 1 "
                    "warm pass at measured SF (host steal bursts are "
                    "one-sided noise; see BASELINE.md round-5 variance "
                    "note); skew_replay_* = steady-state batches 1..N "
                    "(sink path), one-time streaming bootstrap recorded "
                    "in skew_replay_startup_sec"
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
