"""Streaming scale soak: the full streaming stack — watermark-purged
CUMULATE, the incremental MATCH_RECOGNIZE NFA, and the Reshape skew
controller — driven CONCURRENTLY off one 50-micro-batch replay of the
sf0.1 events table (100k rows, 30 days of event time, 1500 keys).

What the short stream==batch tests can't show and this one pins:

1. State stays BOUNDED over time. The cumulate query's state is keyed
   on the native event-time window, so the watermark must purge closed
   windows continuously — after ~720 hourly windows have passed through,
   the store must hold only the handful still inside the watermark
   horizon, and the per-batch state-rows series must go DOWN as well as
   up (purge observed, not just claimed).
2. Results still equal the batch formulation after 50 boundary
   crossings (NFA matches held open across batches, slices re-assembled,
   salted partials merged exactly).

Reference analog: Flink's ITCases run bounded replays too, but its
state-TTL/watermark cleanup is load-bearing at day-scale uptimes —
this soak is the Spark build's equivalent evidence.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF01 = "/root/testdata/sf0.1"


@pytest.mark.slow
def test_streaming_soak_concurrent_bounded_state(spark, tmp_dir):
    from reshape_on_flink_spark.operators.cep import match_recognize, streaming_match_recognize
    from reshape_on_flink_spark.queries.streaming_batch import q_cumulate_window
    from reshape_on_flink_spark.session import load_tables
    from reshape_on_flink_spark.streaming.ops import cumulate_agg
    from reshape_on_flink_spark.streaming.reshape import (
        PartialUpsertSink,
        ReshapeConf,
        ReshapeStreamingAgg,
    )
    from reshape_on_flink_spark.streaming.source import chunked_replay

    events = load_tables(spark, SF01)["events"]
    stream = chunked_replay(
        spark, events, os.path.join(tmp_dir, "replay"), n_chunks=50
    )

    # --- consumer 1: watermark-purged cumulate (append mode) -------------
    cum = cumulate_agg(stream)
    q_cum = (
        cum.writeStream.outputMode("append")
        .format("memory")
        .queryName("soak_cumulate")
        .option("checkpointLocation", os.path.join(tmp_dir, "ckpt_cum"))
        .trigger(availableNow=True)
        .start()
    )

    # --- consumer 2: incremental NFA (view-runs ending in a purchase);
    # keyed to 300 users to keep per-group pandas overhead sane — the
    # soak dimension is 50 batch boundaries, not key count -----------------
    mr_filter = F.col("user_id") < 300
    define = {
        "V": lambda pdf: pdf["event_type"] == "view",
        "P": lambda pdf: pdf["event_type"] == "purchase",
    }
    sdf = streaming_match_recognize(
        stream.where(mr_filter),
        partition_by="user_id",
        order_cols=["ts", "event_id"],
        pattern="V V+ P",
        define=define,
        input_cols=["user_id", "event_id", "ts", "event_type", "value"],
    )
    q_mr = (
        sdf.writeStream.outputMode("append")
        .format("memory")
        .queryName("soak_mr")
        .option("checkpointLocation", os.path.join(tmp_dir, "ckpt_mr"))
        .trigger(availableNow=True)
        .start()
    )

    # --- consumer 3: Reshape skew controller over the same replay --------
    upsert = PartialUpsertSink(spark, os.path.join(tmp_dir, "upsert_rs"), "user_id")
    agg = ReshapeStreamingAgg(
        "user_id", "value", "event_id",
        ReshapeConf(enabled=True, parallelism=8, freq_ms=0), sink=upsert,
    )
    q_rs = agg.attach(stream, os.path.join(tmp_dir, "ckpt_rs"))

    q_cum.awaitTermination(600)
    q_mr.awaitTermination(600)
    q_rs.awaitTermination(600)

    # ---- 1. cumulate correctness: every emitted (closed) slice matches
    # the batch formulation, and most of the batch windows DID close ----
    got = {
        (r["ws"], r["we"]): (r["n"], round(r["sum_value"], 4))
        for r in spark.table("soak_cumulate").collect()
    }
    expected = {
        (r["ws"], r["we"]): (r["n"], round(r["sum_value"], 4))
        for r in q_cumulate_window(spark, SF01).collect()
    }
    assert got, "no windows closed — watermark never advanced"
    for k, v in got.items():
        assert expected.get(k) == v, f"window {k}: stream {v} vs batch {expected.get(k)}"
    assert len(got) >= 0.9 * len(expected)  # only the final horizon open

    # ---- 2. bounded state: the soak's core claim.  ~720 hourly windows
    # flowed through; the store may only ever hold the few inside the
    # watermark horizon, and the series must show actual purging -------
    series = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in q_cum.recentProgress
        if p.get("stateOperators")
    ]
    assert len(series) >= 40, f"expected ~50 micro-batches, saw {len(series)}"
    n_windows_total = len({k[0] for k in expected})
    assert n_windows_total > 100
    # the steady state is the watermark horizon (one chunk's event-time
    # span ≈ 14 hourly windows + the 10-minute delay), independent of
    # how many windows have flowed through — a constant plateau, not a
    # fraction of the total
    assert max(series) <= 30, (
        f"cumulate state exceeded the watermark horizon: max {max(series)} "
        f"after {n_windows_total} windows"
    )
    assert max(series[-10:]) <= max(series[:10]) + 3, (
        f"state trending up across the soak: {series[:10]} -> {series[-10:]}"
    )
    drops = sum(1 for a, b in zip(series, series[1:]) if b < a)
    assert drops >= 5, f"no watermark purging observed in state series {series[:20]}..."

    # ---- 3. MATCH_RECOGNIZE stream == batch after 50 boundaries -------
    batch_mr = match_recognize(
        events.where(mr_filter),
        "user_id",
        ["ts", "event_id"],
        "V V+ P",
        {"V": F.col("event_type") == "view", "P": F.col("event_type") == "purchase"},
    )
    got_mr = {
        (r["user_id"], r["event_id"], r["matched_symbol"])
        for r in spark.table("soak_mr").collect()
    }
    exp_mr = {
        (r["user_id"], r["event_id"], r["matched_symbol"]) for r in batch_mr.collect()
    }
    assert got_mr == exp_mr and len(exp_mr) > 100

    # ---- 4. reshape controller: exact keyed process stage over 50
    # batches equals the batch aggregate --------------------------------
    assert len(agg.routing_history) >= 50
    expected_rs = {
        r["user_id"]: (r["cnt"], round(r["sv"], 4))
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
        .collect()
    }
    got_rs = {
        r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
        for r in upsert.result_df().collect()
    }
    assert got_rs == expected_rs


@pytest.mark.slow
def test_streaming_soak_chaos_restart(spark, tmp_dir):
    """Chaos soak: the same concurrent stack (cumulate, incremental NFA,
    Reshape controller) KILLED mid-replay and restarted from its
    checkpoints — results must still equal batch exactly.

    Durable sinks replace the memory sink so recovery is end-to-end
    exactly-once: the file sink's _spark_metadata commit log for the two
    append queries, the PartialUpsertSink's idempotent per-epoch upsert
    for the controller (its torn-write crash windows are pinned
    separately in test_skew.py). Watermark + NFA + dedup-claim state all
    come back from the checkpoints; the restarted availableNow queries
    drain the remaining chunks.
    """
    import time

    from reshape_on_flink_spark.operators.cep import (
        match_recognize,
        streaming_match_recognize,
    )
    from reshape_on_flink_spark.queries.streaming_batch import q_cumulate_window
    from reshape_on_flink_spark.session import load_tables
    from reshape_on_flink_spark.streaming.ops import cumulate_agg
    from reshape_on_flink_spark.streaming.reshape import (
        PartialUpsertSink,
        ReshapeConf,
        ReshapeStreamingAgg,
    )
    from reshape_on_flink_spark.streaming.source import chunked_replay

    events = load_tables(spark, SF01)["events"]
    replay = os.path.join(tmp_dir, "chaos_replay")
    first_stream = chunked_replay(spark, events, replay, n_chunks=30)
    flat = os.path.join(replay, "stream")

    def reopen():
        # a fresh reader over the SAME files — chunked_replay would
        # rewrite them; restart must see identical inputs
        return (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )

    cum_out = os.path.join(tmp_dir, "chaos_cum_out")
    mr_out = os.path.join(tmp_dir, "chaos_mr_out")
    mr_filter = F.col("user_id") < 300
    define_p = {
        "V": lambda pdf: pdf["event_type"] == "view",
        "P": lambda pdf: pdf["event_type"] == "purchase",
    }
    upsert = PartialUpsertSink(spark, os.path.join(tmp_dir, "chaos_upsert"), "user_id")
    agg = ReshapeStreamingAgg(
        "user_id", "value", "event_id",
        ReshapeConf(enabled=True, parallelism=8, freq_ms=0), sink=upsert,
    )

    def start_all(stream):
        q_cum = (
            cumulate_agg(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", cum_out)
            .option("checkpointLocation", os.path.join(tmp_dir, "chaos_ckpt_cum"))
            .trigger(availableNow=True)
            .start()
        )
        q_mr = (
            streaming_match_recognize(
                stream.where(mr_filter),
                partition_by="user_id",
                order_cols=["ts", "event_id"],
                pattern="V V+ P",
                define=define_p,
                input_cols=["user_id", "event_id", "ts", "event_type", "value"],
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", mr_out)
            .option("checkpointLocation", os.path.join(tmp_dir, "chaos_ckpt_mr"))
            .trigger(availableNow=True)
            .start()
        )
        q_rs = agg.attach(stream, os.path.join(tmp_dir, "chaos_ckpt_rs"))
        return [q_cum, q_mr, q_rs]

    # ---- phase 1: run, then kill every query mid-replay ---------------
    queries = start_all(first_stream)
    killed = 0
    deadline = time.time() + 420
    remaining = list(queries)
    while remaining and time.time() < deadline:
        for q in list(remaining):
            if not q.isActive:
                remaining.remove(q)  # finished before the kill landed
                continue
            lp = q.lastProgress
            if lp is not None and lp["batchId"] >= 6:
                q.stop()
                killed += 1
                remaining.remove(q)
        time.sleep(0.2)
    for q in remaining:
        q.stop()
    # the kill must actually land mid-replay on every consumer (30
    # chunks at sf0.1 leave a wide window; batchId >= 6 << 30)
    assert killed == 3, f"kill landed on only {killed}/3 queries"

    # ---- phase 2: restart from the checkpoints, drain to the end ------
    for q in start_all(reopen()):
        q.awaitTermination(600)

    # ---- cumulate == batch on every closed window ----------------------
    got = {
        (r["ws"], r["we"]): (r["n"], round(r["sum_value"], 4))
        for r in spark.read.parquet(cum_out).collect()
    }
    expected = {
        (r["ws"], r["we"]): (r["n"], round(r["sum_value"], 4))
        for r in q_cumulate_window(spark, SF01).collect()
    }
    assert got, "no windows closed"
    for k, v in got.items():
        assert expected.get(k) == v, f"window {k}: stream {v} vs batch {expected.get(k)}"
    assert len(got) >= 0.9 * len(expected)

    # ---- NFA matches == batch across the restart boundary --------------
    batch_mr = match_recognize(
        events.where(mr_filter),
        "user_id",
        ["ts", "event_id"],
        "V V+ P",
        {"V": F.col("event_type") == "view", "P": F.col("event_type") == "purchase"},
    )
    got_mr = {
        (r["user_id"], r["event_id"], r["matched_symbol"])
        for r in spark.read.parquet(mr_out).collect()
    }
    exp_mr = {
        (r["user_id"], r["event_id"], r["matched_symbol"]) for r in batch_mr.collect()
    }
    assert got_mr == exp_mr and len(exp_mr) > 100

    # ---- reshape upsert sink exact despite replayed epochs -------------
    expected_rs = {
        r["user_id"]: (r["cnt"], round(r["sv"], 4))
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
        .collect()
    }
    got_rs = {
        r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
        for r in upsert.result_df().collect()
    }
    assert got_rs == expected_rs
