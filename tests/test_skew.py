"""Reshape skew-layer tests: controller schedule, exactness of the salted
keyed process stage, and the load-spread improvement it buys."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from reshape_on_flink_spark.streaming.reshape import (
    PartialUpsertSink,
    ReshapeConf,
    ReshapeController,
    ReshapeStreamingAgg,
    keyed_process_agg,
    observe_candidates,
)
from tests.conftest import SF_DIR


def conf(parallelism=8, **kw) -> ReshapeConf:
    return ReshapeConf(parallelism=parallelism, freq_ms=0, **kw)


def plain_partial(df):
    """One epoch's merged (user_id, cnt, sum_value) partial for the sink
    tests: the plain groupBy a combinable streaming aggregate writes."""
    return df.groupBy("user_id").agg(
        F.count("*").alias("cnt"), F.sum("value").alias("sum_value")
    )


class TestController:
    def test_detects_hot_key_first_phase(self):
        c = ReshapeController(conf())
        # 1000 rows over 8 tasks -> mean 125; key 'a' has 500 > 0.8*125
        c.observe({"a": 500, "b": 50, "c": 450}, 1000)
        assert c.routing() == {"a": 10, "c": 10}  # 1/(1-0.9) = 10 salts

    def test_adaptive_phase_resizes_to_excess(self):
        c = ReshapeController(conf(first_phase_num=2))
        for _ in range(3):
            c.observe({"a": 500, "b": 50}, 1000)
        # after first_phase_num iterations: salts = ceil(500 / 125) = 4
        assert c.routing()["a"] == 4

    def test_cooldown_cancels_mitigation(self):
        c = ReshapeController(conf())
        c.observe({"a": 500, "b": 50}, 1000)
        assert "a" in c.routing()
        c.observe({"a": 10, "b": 50}, 1000)  # below lo_threshold * mean
        assert "a" not in c.routing()

    def test_sticky_across_iterations(self):
        c = ReshapeController(conf(first_phase_num=100))
        c.observe({"a": 500}, 1000)
        first = c.routing()["a"]
        c.observe({"a": 400}, 1000)
        assert c.routing()["a"] == first  # unchanged during first phase

    def test_rate_limit_respects_freq_ms(self):
        c = ReshapeController(ReshapeConf(parallelism=8, freq_ms=60_000))
        c.observe({"a": 500}, 1000)
        c.observe({}, 0)  # within freq window: ignored
        assert "a" in c.routing()

    def test_conf_from_spark_conf_keeps_field_defaults(self, spark):
        keys = {"spark.reshape.enabled": "true", "spark.reshape.freqMs": "250"}
        try:
            for k, v in keys.items():
                spark.conf.set(k, v)
            got = ReshapeConf.from_spark_conf(spark)
        finally:
            for k in keys:
                spark.conf.unset(k)
        assert got == ReshapeConf(enabled=True, freq_ms=250)
        assert ReshapeConf.from_spark_conf(spark) == ReshapeConf()


class TestSaltedAgg:
    def test_exact_vs_plain_agg(self, spark, tables):
        """The keyed process stage over decimal values, three keys
        routed, equals the groupBy."""
        ev = tables["events"]
        plain = {
            r["user_id"]: (r["cnt"], round(r["sum_value"], 6))
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("cnt"), F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
            .collect()
        }
        salted = {
            r["user_id"]: (r["cnt"], round(r["sum_value"], 6))
            for r in keyed_process_agg(
                ev.withColumn("value", F.col("value").cast("decimal(18,2)")),
                "user_id",
                "value",
                routing={0: 8, 1: 4, 7: 16},
                spread_col="event_id",
            )
            .select("user_id", "cnt", F.col("sum_value").cast("double").alias("sum_value"))
            .collect()
        }
        assert salted == plain

    def test_keyed_process_agg_exact_and_routed(self, spark):
        """The keyed-PROCESS engine (round 12): same exact (key, cnt,
        sum_value) through an applyInPandas stage — the operator class
        Spark does NOT map-side combine, i.e. the Flink keyed-stream
        shape where the reference's reroute genuinely pays. Plain ==
        routed == relational on a skewed fixture (hot key 0 at 50%)."""
        from reshape_on_flink_spark.sources.readers import datagen

        df = datagen(spark, 20_000, n_keys=40, skew_hot_share=0.5).select(
            "id", "key", "value"
        )

        def snap(out):
            return {
                r["key"]: (r["cnt"], round(r["sum_value"], 6))
                for r in out.collect()
            }

        relational = snap(
            df.groupBy("key").agg(
                F.count("*").alias("cnt"),
                F.sum("value").cast("double").alias("sum_value"),
            )
        )
        plain = snap(keyed_process_agg(df, "key", "value", {}, "id"))
        routed = snap(
            keyed_process_agg(df, "key", "value", {0: 10, 3: 4}, "id")
        )
        assert plain == relational
        assert routed == relational

        # a small routed input runs its keyed stage at the capped width
        # (the one-wave floor), not at spark.sql.shuffle.partitions, and
        # stays exactly equal to the groupBy
        import re

        from reshape_on_flink_spark.session import (
            PYTHON_STAGE_MIN_PARTITIONS,
            task_slots,
        )

        key = "spark.sql.shuffle.partitions"
        saved = spark.conf.get(key)
        spark.conf.set(key, "32")
        try:
            out = keyed_process_agg(df, "key", "value", {0: 10, 3: 4}, "id")
            plan = out._jdf.queryExecution().executedPlan().toString()
            widths = re.findall(r"hashpartitioning\(key#\d+L?, _salt#\d+, (\d+)\)", plan)
            assert widths == [
                str(min(PYTHON_STAGE_MIN_PARTITIONS, task_slots(spark)))
            ], plan
            assert snap(out) == relational
        finally:
            spark.conf.set(key, saved)

    def test_streaming_agg_equals_groupby(self, spark, tmp_dir):
        """ReshapeStreamingAgg over a chunked zipf replay with the
        controller ON == the batch groupBy, and the controller engages on
        the hot key."""
        from reshape_on_flink_spark.sources.readers import datagen
        from reshape_on_flink_spark.streaming.source import chunked_replay

        df = datagen(spark, 20_000, n_keys=40, skew_hot_share=0.5).select(
            "id", "key", "value"
        )
        expected = {
            r["key"]: (r["cnt"], round(r["sv"], 6))
            for r in df.groupBy("key")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
            .collect()
        }
        stream = chunked_replay(spark, df, os.path.join(tmp_dir, "pe"),
                                n_chunks=4, order_col="id")
        sink = PartialUpsertSink(spark, os.path.join(tmp_dir, "pe_sink"), "key")
        agg = ReshapeStreamingAgg(
            "key", "value", "id",
            ReshapeConf(enabled=True, parallelism=8, freq_ms=0), sink=sink,
        )
        agg.attach(stream, os.path.join(tmp_dir, "pe_ckpt")).awaitTermination(120)
        got = {
            r["key"]: (r["cnt"], round(r["sum_value"], 6))
            for r in sink.result_df().collect()
        }
        assert got == expected
        assert any(0 in r for r in agg.routing_history), (
            "controller never engaged on the hot key"
        )

    def test_engine_other_than_process_is_rejected(self):
        """The keyed process stage is the one operator: the relational
        engine is gone and asking for it fails loudly."""
        with pytest.raises(ValueError, match="engine must be 'process'"):
            ReshapeStreamingAgg(
                "key", "value", "id", ReshapeConf(), sink=None,
                engine="relational",
            )

    def test_spread_improvement_on_skewed_keys(self, spark):
        """The point of the mechanism: a hot key that would land on one
        reducer spreads over n_salts reducers. Measure max reducer share
        with and without salting under hash partitioning."""
        n_part = 8
        df = spark.range(10_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.pmod(F.hash("id"), 100)).alias("k"),
            F.col("id").alias("event_id"),
            F.lit(1.0).alias("v"),
        )
        def max_share(with_salt: bool) -> float:
            key = (
                F.concat_ws("_", F.col("k"), F.pmod(F.hash("event_id"), F.lit(16)))
                if with_salt
                else F.col("k").cast("string")
            )
            loads = (
                df.withColumn("p", F.pmod(F.hash(key), F.lit(n_part)))
                .groupBy("p")
                .count()
                .collect()
            )
            return max(r["count"] for r in loads) / 10_000

        unsalted, salted = max_share(False), max_share(True)
        assert unsalted > 0.5          # key 0 (50% of rows) hot-spots one reducer
        assert salted < unsalted / 2   # salting spreads it

    def test_streaming_reshape_agg_end_to_end(self, spark, tables, tmp_dir):
        """Four micro-batches of the events replay through the controller
        into a sink that never compacts on the way: every batch is
        routed, and merge-on-read of the four live partials equals the
        batch groupBy."""
        from reshape_on_flink_spark.streaming.source import chunked_replay

        sink = PartialUpsertSink(spark, os.path.join(tmp_dir, "upsert"), "user_id")
        stream = chunked_replay(spark, tables["events"], os.path.join(tmp_dir, "replay"), n_chunks=4)
        agg = ReshapeStreamingAgg(
            "user_id", "value", "event_id",
            ReshapeConf(enabled=True, parallelism=8, freq_ms=0), sink=sink,
        )
        agg.attach(stream, os.path.join(tmp_dir, "ckpt")).awaitTermination(120)
        assert len(agg.routing_history) == 4
        assert not os.path.exists(os.path.join(sink.path, "CURRENT"))  # no snapshot
        expected = {
            r["user_id"]: (r["cnt"], round(r["sv"], 4))
            for r in tables["events"]
            .groupBy("user_id")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
            .collect()
        }
        got = {
            r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
            for r in sink.result_df().collect()
        }
        assert got == expected


class TestScalePath:
    """Heavy-hitter-only observation and the upsert-sink merge — the two
    pieces that keep the control loop and the result table off the
    driver at cluster scale."""

    def test_observe_candidates_is_bounded(self, spark):
        """10k distinct keys, one hot: the driver must receive only the
        bounded candidate set, never the full histogram."""
        cfg = conf(parallelism=8)  # lo=0.2 -> floor = 0.2 * total/8
        df = spark.range(10_000).select(
            F.col("id").alias("k"), F.lit(1).alias("one")
        )
        # hot key 0 gets 5000 extra rows
        hot = spark.range(5_000).select(F.lit(0).alias("k"), F.lit(1).alias("one"))
        merged = df.unionByName(hot).groupBy("k").agg(
            F.count("*").alias("cnt"), F.sum("one").alias("sum_value")
        )
        total, cands = observe_candidates(merged, "k", cfg, tracked={})
        assert total == 15_000
        # floor = 0.2 * 15000/8 = 375; only key 0 (5001 rows) exceeds it
        assert set(cands) == {0}
        # feeding the filtered dict to the controller detects the hot key
        c = ReshapeController(cfg)
        c.observe(cands, total)
        assert 0 in c.routing()

    def test_observe_candidates_reports_tracked_for_cooldown(self, spark):
        cfg = conf(parallelism=8)
        merged = spark.createDataFrame(
            [(0, 10, 10.0), (1, 900, 900.0)], ["k", "cnt", "sum_value"]
        )
        total, cands = observe_candidates(merged, "k", cfg, tracked={0: object()})
        # key 0 is far below the floor but tracked -> reported with its
        # true count so the controller cools it down on real evidence
        assert cands[0] == 10
        c = ReshapeController(cfg)
        c.hot_keys[0] = type("HK", (), {"salts": 10, "iterations": 0})()
        c.observe(cands, total)
        assert 0 not in c.routing()

    def test_upsert_sink_exact_idempotent_and_compacting(self, spark, tables, tmp_dir):
        sink = PartialUpsertSink(spark, os.path.join(tmp_dir, "upsert"), "user_id", compact_every=2)
        ev = tables["events"]
        chunks = [ev.filter(F.pmod(F.hash("event_id"), 3) == i) for i in range(3)]
        for epoch, chunk in enumerate(chunks):
            merged = plain_partial(chunk)
            sink.write(merged, epoch)
        # epochs 0,1 compacted into the snapshot; epoch 2 is a live partial
        snap_dir, through = sink._load_current()
        assert snap_dir is not None and through == 1
        expected = {
            r["user_id"]: (r["cnt"], round(r["sv"], 4))
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
            .collect()
        }
        def current():
            return {
                r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
                for r in sink.result_df().collect()
            }
        assert current() == expected
        # replay of a live epoch: overwrites its own partial dir -> no change
        sink.write(plain_partial(chunks[2]), 2)
        assert current() == expected
        # replay of an epoch already folded into the snapshot: skipped
        sink.write(plain_partial(chunks[0]), 0)
        assert current() == expected

    def test_upsert_sink_crash_before_commit_preserves_old_state(self, spark, tables, tmp_dir):
        """Crash at any point before the CURRENT repoint must leave the
        previously committed state fully readable and re-compactable."""
        import os as _os

        sink = PartialUpsertSink(spark, os.path.join(tmp_dir, "upsert"), "user_id", compact_every=100)
        ev = tables["events"]
        chunks = [ev.filter(F.pmod(F.hash("event_id"), 2) == i) for i in range(2)]
        for epoch, chunk in enumerate(chunks):
            sink.write(plain_partial(chunk), epoch)
        expected = {
            r["user_id"]: (r["cnt"], round(r["sv"], 4))
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
            .collect()
        }

        real_replace = _os.replace

        def crash_replace(src, dst):
            raise OSError("simulated crash at the commit point")

        _os.replace = crash_replace
        try:
            with pytest.raises(OSError, match="simulated crash"):
                sink.compact()
        finally:
            _os.replace = real_replace
        # nothing committed: no snapshot, all partials intact, result exact
        assert sink._load_current() == (None, -1)
        got = {
            r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
            for r in sink.result_df().collect()
        }
        assert got == expected
        # a later (non-crashing) compact succeeds from the same state
        sink.compact()
        snap_dir, through = sink._load_current()
        assert snap_dir is not None and through == 1
        got = {
            r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
            for r in sink.result_df().collect()
        }
        assert got == expected

    def test_upsert_sink_crash_after_commit_ignores_stale_partials(self, spark, tables, tmp_dir):
        """Crash between the CURRENT repoint and partial cleanup: a
        replayed folded epoch re-writing its partial must not be double
        counted by result_df() or accepted by write()."""
        sink = PartialUpsertSink(spark, os.path.join(tmp_dir, "upsert"), "user_id", compact_every=100)
        ev = tables["events"]
        chunks = [ev.filter(F.pmod(F.hash("event_id"), 2) == i) for i in range(2)]
        for epoch, chunk in enumerate(chunks):
            sink.write(plain_partial(chunk), epoch)
        expected = {
            r["user_id"]: (r["cnt"], round(r["sv"], 4))
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
            .collect()
        }
        sink.compact()
        _, through = sink._load_current()
        assert through == 1
        # simulate the replayed epoch whose partial survived a crashed
        # cleanup: write epoch 0's partial straight into the store,
        # bypassing write()'s watermark check
        plain_partial(chunks[0]).write.mode("overwrite").parquet(
            os.path.join(sink._partials, "epoch=0")
        )
        got = {
            r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
            for r in sink.result_df().collect()
        }
        assert got == expected  # stale partial filtered by the watermark
        # write() also refuses the replay outright
        sink.write(plain_partial(chunks[0]), 0)
        got = {
            r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
            for r in sink.result_df().collect()
        }
        assert got == expected
        # and the stale dir is garbage-collected by the next compact
        sink.write(plain_partial(chunks[1]), 2)
        sink.compact()
        assert sink._partial_epochs() == []

    def test_streaming_agg_with_upsert_sink(self, spark, tables, tmp_dir):
        """Four micro-batches of the events replay through the
        controller into the upsert sink (one compaction on the way):
        the merged result equals the batch groupBy."""
        from reshape_on_flink_spark.streaming.source import chunked_replay

        sink = PartialUpsertSink(spark, os.path.join(tmp_dir, "upsert"), "user_id", compact_every=3)
        stream = chunked_replay(spark, tables["events"], os.path.join(tmp_dir, "replay"), n_chunks=4)
        agg = ReshapeStreamingAgg(
            "user_id", "value", "event_id",
            ReshapeConf(enabled=True, parallelism=8, freq_ms=0), sink=sink,
        )
        agg.attach(stream, os.path.join(tmp_dir, "ckpt")).awaitTermination(120)
        assert len(agg.routing_history) == 4
        expected = {
            r["user_id"]: (r["cnt"], round(r["sv"], 4))
            for r in tables["events"]
            .groupBy("user_id")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
            .collect()
        }
        got = {
            r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
            for r in sink.result_df().collect()
        }
        assert got == expected


class TestControllerOnSkewedStream:
    def test_controller_engages_on_zipf_stream(self, spark, tmp_dir):
        """End-to-end on genuinely skewed data: key 0 carries ~50% of a
        replayed stream; the controller must detect it, mitigate with the
        first-phase fan-out, and the salted results must stay exact.
        Run 2 restarts the query on a fresh sink with the same (sticky)
        controller: the routing applies from its first batch and the
        results stay exact."""
        from reshape_on_flink_spark.sources.readers import datagen
        from reshape_on_flink_spark.streaming.source import chunked_replay

        df = datagen(spark, 20_000, n_keys=50, skew_hot_share=0.5).select(
            F.col("id").alias("event_id"),
            F.col("key").alias("user_id"),
            F.col("value"),
            F.timestamp_millis(F.col("id") * 1000).alias("ts"),
        )
        expected = {
            r["user_id"]: (r["cnt"], round(r["sv"], 4))
            for r in df.groupBy("user_id")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
            .collect()
        }

        def sink(tag):
            return PartialUpsertSink(spark, os.path.join(tmp_dir, f"upsert_{tag}"), "user_id")

        def run(tag):
            stream = chunked_replay(
                spark, df, os.path.join(tmp_dir, f"replay_{tag}"), n_chunks=3
            )
            agg.attach(stream, os.path.join(tmp_dir, f"ckpt_{tag}")).awaitTermination(180)
            return {
                r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
                for r in agg.sink.result_df().collect()
            }

        agg = ReshapeStreamingAgg(
            "user_id", "value", "event_id",
            ReshapeConf(enabled=True, parallelism=8, freq_ms=0), sink=sink(1),
        )
        assert run(1) == expected
        # the hot key was detected and salted with the first-phase fan-out
        assert any(r.get(0, 0) == 10 for r in agg.routing_history), agg.routing_history

        # run 2: a restarted query on a fresh sink, same controller
        agg.sink = sink(2)
        run2_start = len(agg.routing_history)
        assert run(2) == expected
        assert all(
            r.get(0) == 10 for r in agg.routing_history[run2_start:]
        ), agg.routing_history

    def test_controller_observes_compaction_epochs(self, spark, tmp_dir):
        """With freq_ms=0 every epoch is due, including the ones whose
        own write triggers a compaction (compact_every=2: epochs 1 and
        3), which folds and would delete the partial the controller
        reads back. One controller iteration per micro-batch, and the
        sink stays exact."""
        from reshape_on_flink_spark.sources.readers import datagen
        from reshape_on_flink_spark.streaming.source import chunked_replay

        df = datagen(spark, 8_000, n_keys=50, skew_hot_share=0.5).select(
            F.col("id").alias("event_id"),
            F.col("key").alias("user_id"),
            F.col("value"),
            F.timestamp_millis(F.col("id") * 1000).alias("ts"),
        )
        sink = PartialUpsertSink(
            spark, os.path.join(tmp_dir, "upsert"), "user_id", compact_every=2
        )
        agg = ReshapeStreamingAgg(
            "user_id", "value", "event_id",
            ReshapeConf(enabled=True, parallelism=8, freq_ms=0),
            sink=sink,
        )
        stream = chunked_replay(spark, df, os.path.join(tmp_dir, "replay"), n_chunks=4)
        agg.attach(stream, os.path.join(tmp_dir, "ckpt")).awaitTermination(180)
        assert len(agg.routing_history) == 4
        assert sink._compacted_through() == 3  # epochs 1 and 3 compacted
        assert agg.controller.iterations == len(agg.routing_history)
        expected = {
            r["user_id"]: (r["cnt"], round(r["sv"], 4))
            for r in df.groupBy("user_id")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
            .collect()
        }
        got = {
            r["user_id"]: (r["cnt"], round(r["sum_value"], 4))
            for r in sink.result_df().collect()
        }
        assert got == expected


class TestBatchAQESkew:
    def test_aqe_splits_skewed_join_partitions(self, spark):
        """Batch half of the Reshape mapping (SURVEY §0.5): AQE skew-join
        must split a hot key's partition at runtime — the final adaptive
        plan marks the sort-merge join skew=true. This is the engine
        config doing what the reference's record-rerouter does, with
        exact semantics for free."""
        import pyspark.sql.functions as F

        conf = spark.conf
        saved = {
            k: conf.get(k)
            for k in (
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.forceOptimizeSkewedJoin",
            )
        }
        try:
            # small fixture -> aggressive thresholds so skew detection fires
            conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
            conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
            conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            # the split would add a shuffle above the join, which the
            # cost check vetoes on this tiny input; at real scale the
            # split wins, so force it for the plan pin
            conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
            # 1 hot key carrying 200k padded rows + 1k cold keys
            left = spark.range(201_000).select(
                F.when(F.col("id") < 200_000, 7).otherwise(F.col("id") % 1000 + 10).alias("k"),
                F.md5(F.col("id").cast("string")).alias("pad"),
            )
            right = spark.range(2_000).select(
                F.when(F.col("id") < 1_000, 7).otherwise(F.col("id") % 1000 + 10).alias("k"),
                F.col("id").alias("w"),
            )
            joined = left.join(right, "k").groupBy().agg(F.count("*").alias("n"))
            assert joined.collect()[0]["n"] > 0
            final_plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in final_plan, final_plan[:2000]
        finally:
            for k, v in saved.items():
                (conf.set(k, v) if v is not None else conf.unset(k))


def test_generic_attach_upsert_with_mixed_merge_spec(spark, tables, tmp_dir):
    """attach_upsert serves any keyed aggregate: a count/min/max partial
    merges exactly across epochs under the declared merge spec."""
    from reshape_on_flink_spark.streaming.reshape import PartialUpsertSink, attach_upsert
    from reshape_on_flink_spark.streaming.source import chunked_replay

    sink = PartialUpsertSink(
        spark, os.path.join(tmp_dir, "upsert_g"), "event_type", compact_every=2,
        merge_spec={"cnt": "sum", "v_min": "min", "v_max": "max"},
    )
    stream = chunked_replay(spark, tables["events"], os.path.join(tmp_dir, "replay_g"), n_chunks=3)

    def partial(batch_df):
        return batch_df.groupBy("event_type").agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )

    attach_upsert(stream, sink, partial, os.path.join(tmp_dir, "ckpt_g")).awaitTermination(120)
    expected = {
        r["event_type"]: (r["cnt"], round(r["v_min"], 6), round(r["v_max"], 6))
        for r in tables["events"].groupBy("event_type").agg(
            F.count("*").alias("cnt"), F.min("value").alias("v_min"), F.max("value").alias("v_max")
        ).collect()
    }
    got = {
        r["event_type"]: (r["cnt"], round(r["v_min"], 6), round(r["v_max"], 6))
        for r in sink.result_df().collect()
    }
    assert got == expected
