"""Changelog operators + DataStream facade tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from reshape_on_flink_spark.operators.changelog import (
    CHANGE_COL,
    DELETE,
    INSERT,
    UPDATE_AFTER,
    UPDATE_BEFORE,
    changelog_normalize,
    drop_update_before,
    snapshot_diff,
)
from tests.conftest import assert_same_rows


def _log(spark, rows):
    return spark.createDataFrame(rows, f"{CHANGE_COL} string, k int, v string, seq int")


def test_changelog_normalize_basic(spark):
    log = _log(
        spark,
        [
            (INSERT, 1, "a", 1),
            (UPDATE_BEFORE, 1, "a", 2),
            (UPDATE_AFTER, 1, "b", 3),
            (INSERT, 2, "x", 4),
            (DELETE, 2, "x", 5),
            (INSERT, 3, "z", 6),
        ],
    )
    got = changelog_normalize(log, ["k"], "seq")
    assert {(r["k"], r["v"]) for r in got.collect()} == {(1, "b"), (3, "z")}


def test_drop_update_before(spark):
    log = _log(spark, [(INSERT, 1, "a", 1), (UPDATE_BEFORE, 1, "a", 2), (UPDATE_AFTER, 1, "b", 3)])
    assert drop_update_before(log).count() == 2


def test_snapshot_diff_roundtrip(spark, tables):
    """normalize(initial-inserts + diff) == after snapshot."""
    before = tables["customer"].select("c_custkey", "c_acctbal").limit(100)
    after = (
        before.where("c_custkey % 7 != 0")  # deletes
        .withColumn("c_acctbal", F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 1).otherwise(F.col("c_acctbal")))
        .union(spark.createDataFrame([(99991, 5.0), (99992, 6.0)], ["c_custkey", "c_acctbal"]))
    )
    diff = snapshot_diff(before, after, ["c_custkey"], ["c_acctbal"])
    n_del = diff.where(F.col(CHANGE_COL) == DELETE).count()
    n_ins = diff.where(F.col(CHANGE_COL) == INSERT).count()
    assert n_ins == 2 and n_del == before.where("c_custkey % 7 = 0").count()

    initial = before.select(F.lit(INSERT).alias(CHANGE_COL), "c_custkey", "c_acctbal").withColumn(
        "seq", F.lit(0)
    )
    log = initial.unionByName(diff.withColumn("seq", F.lit(1)))
    rebuilt = changelog_normalize(log, ["c_custkey"], "seq")
    assert_same_rows(rebuilt.select("c_custkey", "c_acctbal"), after)


def test_datastream_facade(spark, tables):
    from reshape_on_flink_spark.api.datastream import DataStream

    ev = DataStream(tables["events"])
    # map/filter stay expression-level
    out = (
        ev.filter_expr("event_type = 'click'")
        .map_expr("user_id", (F.col("value") * 2).alias("v2"))
        .key_by("user_id")
        .reduce(total=F.sum("v2"), n=F.count("*"))
    )
    expected = (
        tables["events"]
        .where("event_type = 'click'")
        .groupBy("user_id")
        .agg(F.sum(F.col("value") * 2).alias("total"), F.count("*").alias("n"))
    )
    assert_same_rows(out.df, expected)


def test_datastream_windowed_aggregate(spark, tables):
    from reshape_on_flink_spark.api.datastream import DataStream

    out = (
        DataStream(tables["events"])
        .key_by("event_type")
        .window_tumble("ts", "1 hour")
        .aggregate(n=F.count("*"))
    )
    expected = (
        tables["events"]
        .groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select("event_type", F.unix_timestamp("w.start").alias("window_start"), F.unix_timestamp("w.end").alias("window_end"), "n")
    )
    assert_same_rows(out.df, expected)


def test_datastream_pandas_paths(spark, tables):
    from reshape_on_flink_spark.api.datastream import DataStream

    ev = DataStream(tables["events"].select("user_id", "value"))
    doubled = ev.map_pandas(lambda pdf: pdf.assign(value=pdf.value * 2), "user_id long, value double")
    assert doubled.df.agg(F.sum("value")).first()[0] == (
        tables["events"].agg(F.sum(F.col("value") * 2)).first()[0]
    )

    def top1(key, pdf):
        return pdf.nlargest(1, "value")

    top = ev.key_by("user_id").process(top1, "user_id long, value double")
    expected = (
        tables["events"].groupBy("user_id").agg(F.max("value").alias("value"))
    )
    assert_same_rows(top.df, expected)


# ---------------------------------------------------------------------
# Retract streams (streaming.changelog.to_retract_stream) — Flink's
# toRetractStream / GroupAggFunction emission contract.
# ---------------------------------------------------------------------


def _replay(spark, df, tmp_dir, name, n_chunks, order_col):
    import os

    from reshape_on_flink_spark.streaming.source import chunked_replay

    return chunked_replay(
        spark, df, os.path.join(tmp_dir, name), n_chunks=n_chunks, order_col=order_col
    )


def _collect_stream(spark, sdf, name, tmp_dir):
    from tests.test_streaming import run_to_memory

    return run_to_memory(spark, sdf, name, tmp_dir, mode="append").collect()


def test_to_retract_stream_docs_sequence(spark, tmp_dir):
    """The dynamic_tables.md 'Table to Stream Conversion' sequence:
    clicks by Mary, Bob, Mary, Liz (one row per micro-batch) emit
    +I(Mary,1) +I(Bob,1) -U(Mary,1) +U(Mary,2) +I(Liz,1)."""
    from reshape_on_flink_spark.streaming.changelog import to_retract_stream

    rows = [(1, "Mary"), (2, "Bob"), (3, "Mary"), (4, "Liz")]
    df = spark.createDataFrame(rows, "seq int, user string")
    stream = _replay(spark, df, tmp_dir, "retract_docs", 4, "seq")
    out = to_retract_stream(stream, "user", {"cnt": ("count", None)})
    got = _collect_stream(spark, out, "retract_docs_out", tmp_dir)
    # order within a key by _change_seq; keys interleave by first-seen
    per_key = {}
    for r in got:
        per_key.setdefault(r.user, []).append((r._change_seq, r._change_type, r.cnt))
    for k in per_key:
        per_key[k] = [(t, c) for _s, t, c in sorted(per_key[k])]
    assert per_key == {
        "Mary": [("+I", 1), ("-U", 1), ("+U", 2)],
        "Bob": [("+I", 1)],
        "Liz": [("+I", 1)],
    }, per_key


def test_to_retract_stream_upsert_view_equals_batch(spark, tmp_dir):
    """Normalizing the collected retract stream == the batch aggregate
    (count/sum/avg/min/max over an append-only input)."""
    from reshape_on_flink_spark.streaming.changelog import (
        retract_stream_to_table,
        to_retract_stream,
    )

    rows = [(i, i % 5, float(i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, "seq int, k int, v double")
    stream = _replay(spark, df, tmp_dir, "retract_eq", 5, "seq")
    out = to_retract_stream(
        stream,
        "k",
        {
            "cnt": ("count", None),
            "s": ("sum", "v"),
            "a": ("avg", "v"),
            "lo": ("min", "v"),
            "hi": ("max", "v"),
        },
    )
    got = _collect_stream(spark, out, "retract_eq_out", tmp_dir)
    final = retract_stream_to_table(
        spark.createDataFrame(got), ["k"]
    ).orderBy("k")
    batch = (
        df.groupBy("k")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("v").alias("s"),
            F.avg("v").alias("a"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .orderBy("k")
    )
    g = [(r.k, r.cnt, r.s, r.a, r.lo, r.hi) for r in final.collect()]
    b = [(r.k, r.cnt, r.s, r.a, r.lo, r.hi) for r in batch.collect()]
    assert g == b and len(g) == 5
    # every key's changelog alternates -U/+U pairs after its +I
    hist = {}
    for r in sorted(got, key=lambda r: (r.k, r._change_seq)):
        hist.setdefault(r.k, []).append(r._change_type)
    for k, seq in hist.items():
        assert seq[0] == "+I"
        rest = seq[1:]
        assert all(t == ("-U" if i % 2 == 0 else "+U") for i, t in enumerate(rest)), (k, seq)


def test_retraction_consuming_two_level_aggregation(spark, tmp_dir):
    """GroupAggFunction's retract mode, end-to-end: level 1 counts
    clicks per user (retract stream); level 2 CONSUMES that changelog
    and counts users per click-count — the frequency histogram that is
    WRONG without retraction handling (a user moving 1->2 clicks must
    leave the 1-bucket). Final state == batch recomputation."""
    from reshape_on_flink_spark.streaming.changelog import (
        retract_stream_to_table,
        to_retract_stream,
    )

    rows = [(i, ["a", "b", "a", "c", "a", "b", "d", "a"][i]) for i in range(8)]
    df = spark.createDataFrame(rows, "seq int, user string")
    inner_stream = _replay(spark, df, tmp_dir, "twolevel_in", 8, "seq")
    inner = to_retract_stream(inner_stream, "user", {"cnt": ("count", None)})
    level1 = _collect_stream(spark, inner, "twolevel_mid", tmp_dir)
    assert len(level1) > 4

    # replay level 1's changelog (in emission order) into level 2
    l1df = spark.createDataFrame(level1).withColumn(
        "gseq", F.monotonically_increasing_id()
    )
    import pandas as pd  # noqa: F401

    l1_ordered = l1df.orderBy("_change_seq", "user").drop("gseq")
    l1_ordered = l1_ordered.withColumn("gseq", F.monotonically_increasing_id())
    outer_stream = _replay(
        spark, l1_ordered, tmp_dir, "twolevel_l2in", 4, "gseq"
    )
    outer = to_retract_stream(
        outer_stream.withColumnRenamed("_change_seq", "_change_seq_in")
        .withColumn("_change_seq", F.col("gseq")),
        "cnt",
        {"n_users": ("count", None)},
        consume_changelog=True,
    )
    got = _collect_stream(spark, outer, "twolevel_out", tmp_dir)
    final = retract_stream_to_table(spark.createDataFrame(got), ["cnt"])
    hist = {r.cnt: r.n_users for r in final.collect()}
    batch_hist = {
        r.cnt: r.n_users
        for r in df.groupBy("user")
        .agg(F.count("*").alias("cnt"))
        .groupBy("cnt")
        .agg(F.countDistinct("user").alias("n_users"))
        .collect()
    }
    # a: 4 clicks, b: 2, c: 1, d: 1 -> {4:1, 2:1, 1:2}
    assert batch_hist == {4: 1, 2: 1, 1: 2}
    assert hist == batch_hist, (hist, batch_hist)


def test_consume_changelog_min_max_needs_multiset(spark, tmp_dir):
    """Retracting the current max must fall back to the runner-up —
    only a value multiset can answer that (MinWithRetractAggFunction)."""
    from reshape_on_flink_spark.streaming.changelog import to_retract_stream

    rows = [
        (0, "+I", 1, 10.0),
        (1, "+I", 1, 30.0),
        (2, "-U", 1, 30.0),  # retract the max
        (3, "+I", 1, 20.0),
    ]
    df = spark.createDataFrame(rows, "_change_seq long, _change_type string, k int, v double")
    stream = _replay(spark, df, tmp_dir, "ms_in", 2, "_change_seq")
    out = to_retract_stream(
        stream, "k", {"hi": ("max", "v"), "lo": ("min", "v")},
        consume_changelog=True,
    )
    got = sorted(
        _collect_stream(spark, out, "ms_out", tmp_dir),
        key=lambda r: r._change_seq,
    )
    states = [(r._change_type, r.hi, r.lo) for r in got]
    # batch 1: 10,30 -> +I (30, 10); batch 2: -30 then +20 -> (20, 10)
    assert states == [("+I", 30.0, 10.0), ("-U", 30.0, 10.0), ("+U", 20.0, 10.0)], states


def test_to_retract_stream_loud_errors(spark):
    from reshape_on_flink_spark.streaming.changelog import to_retract_stream

    df = spark.createDataFrame([(1, 2.0)], "k int, v double")
    try:
        to_retract_stream(df, "k", {"x": ("median", "v")})
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "unsupported aggregate" in str(e)
    try:
        to_retract_stream(df, "k", {"x": ("sum", "v")}, consume_changelog=True)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "_change_type" in str(e)


def test_to_retract_stream_row_granularity_single_batch(spark, tmp_dir):
    """granularity='row' reproduces Flink's per-record emission
    (GroupAggFunction.processElement) even when every input row arrives
    in ONE micro-batch — the dynamic_tables.md sequence again, without
    needing one-chunk-per-row replay."""
    from reshape_on_flink_spark.streaming.changelog import to_retract_stream

    rows = [(1, "Mary"), (2, "Bob"), (3, "Mary"), (4, "Liz")]
    df = spark.createDataFrame(rows, "seq int, user string")
    stream = _replay(spark, df, tmp_dir, "retract_row", 1, "seq")
    out = to_retract_stream(
        stream, "user", {"cnt": ("count", None)},
        granularity="row", order_by="seq",
    )
    got = _collect_stream(spark, out, "retract_row_out", tmp_dir)
    per_key = {}
    for r in sorted(got, key=lambda r: (r.user, r._change_seq)):
        per_key.setdefault(r.user, []).append((r._change_type, r.cnt))
    assert per_key == {
        "Mary": [("+I", 1), ("-U", 1), ("+U", 2)],
        "Bob": [("+I", 1)],
        "Liz": [("+I", 1)],
    }, per_key
    # a batch input replays the same rows through the batch route
    batch = to_retract_stream(
        df, "user", {"cnt": ("count", None)},
        granularity="row", order_by="seq",
    )
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, got))


def test_to_retract_stream_row_equals_batch_final_state(spark, tmp_dir):
    from reshape_on_flink_spark.streaming.changelog import (
        retract_stream_to_table,
        to_retract_stream,
    )

    rows = [(i, i % 3, float((i * 7) % 11)) for i in range(30)]
    df = spark.createDataFrame(rows, "seq int, k int, v double")
    aggs = {
        "cnt": ("count", None), "s": ("sum", "v"),
        "lo": ("min", "v"), "hi": ("max", "v"),
    }
    finals = {}
    for mode in ("batch", "row"):
        stream = _replay(spark, df, tmp_dir, f"rg_{mode}", 4, "seq")
        out = to_retract_stream(
            stream, "k", aggs, granularity=mode, order_by="seq"
        )
        got = _collect_stream(spark, out, f"rg_{mode}_out", tmp_dir)
        finals[mode] = sorted(
            (r.k, r.cnt, r.s, r.lo, r.hi)
            for r in retract_stream_to_table(
                spark.createDataFrame(got), ["k"]
            ).collect()
        )
        if mode == "row":
            # per-record contract: every row of a key emits a transition
            n_i = sum(1 for r in got if r._change_type == "+I")
            n_u = sum(1 for r in got if r._change_type == "+U")
            assert n_i == 3 and n_u == 27, (n_i, n_u)
    assert finals["row"] == finals["batch"]


def test_to_retract_stream_row_consume_changelog_minmax(spark, tmp_dir):
    """Row-granular retraction consumption: retracting the current max
    emits its own -U/+U step (multiset per transition)."""
    from reshape_on_flink_spark.streaming.changelog import to_retract_stream

    rows = [
        (0, "+I", 1, 10.0),
        (1, "+I", 1, 30.0),
        (2, "-U", 1, 30.0),
        (3, "+I", 1, 20.0),
    ]
    df = spark.createDataFrame(rows, "_change_seq long, _change_type string, k int, v double")
    stream = _replay(spark, df, tmp_dir, "rowms_in", 1, "_change_seq")
    out = to_retract_stream(
        stream, "k", {"hi": ("max", "v")},
        consume_changelog=True, granularity="row", order_by="_change_seq",
    )
    got = sorted(
        _collect_stream(spark, out, "rowms_out", tmp_dir),
        key=lambda r: r._change_seq,
    )
    states = [(r._change_type, r.hi) for r in got]
    assert states == [
        ("+I", 10.0), ("-U", 10.0), ("+U", 30.0),
        ("-U", 30.0), ("+U", 10.0), ("-U", 10.0), ("+U", 20.0),
    ], states


def test_to_retract_stream_null_inputs_match_sql(spark, tmp_dir):
    """NULL input semantics mirror Flink's agg functions (Sum/Avg/Min/
    MaxWithRetractAggFunction + AvgAggFunction): NULL inputs are
    skipped, AVG divides by the NON-null count, SUM/AVG/MIN/MAX over
    zero non-null inputs are NULL (COUNT(*) still counts the rows).
    Oracle = Spark's own batch aggregate, which has SQL semantics.
    Both granularities."""
    from reshape_on_flink_spark.streaming.changelog import (
        retract_stream_to_table,
        to_retract_stream,
    )

    rows = [
        (0, 1, 10.0), (1, 1, None), (2, 1, 30.0),  # mixed nulls
        (3, 2, None), (4, 2, None),                # all-null key
        (5, 3, 7.0),
    ]
    df = spark.createDataFrame(rows, "seq int, k int, v double")
    batch = sorted(
        (r.k, r.cnt, r.s, r.a, r.lo, r.hi)
        for r in df.groupBy("k").agg(
            F.count("*").alias("cnt"), F.sum("v").alias("s"),
            F.avg("v").alias("a"), F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        ).collect()
    )
    assert batch[1] == (2, 2, None, None, None, None)  # the oracle itself
    for mode in ("batch", "row"):
        stream = _replay(spark, df, tmp_dir, f"nulls_in_{mode}", 3, "seq")
        out = to_retract_stream(
            stream, "k",
            {"cnt": ("count", None), "s": ("sum", "v"), "a": ("avg", "v"),
             "lo": ("min", "v"), "hi": ("max", "v")},
            granularity=mode, order_by="seq",
        )
        got = _collect_stream(spark, out, f"nulls_out_{mode}", tmp_dir)
        final = sorted(
            (r.k, r.cnt, r.s, r.a, r.lo, r.hi)
            for r in retract_stream_to_table(
                spark.createDataFrame(got, out.schema), ["k"]
            ).collect()
        )
        assert final == batch, (mode, final, batch)
        if mode == "row":
            # mixed-null key: the NULL row changes no aggregate except
            # COUNT -> it must still emit its -U/+U (cnt is part of the
            # record), and avg(k=1) is 20.0 = 40/2 not 40/3
            k1 = [r for r in got if r.k == 1 and r._change_type == "+U"]
            assert any(r.cnt == 3 and r.a == 20.0 for r in k1), k1


# ---------------------------------------------------------------------
# join_changelog — StreamingJoinOperator.java:123-198 pseudo-code
# ---------------------------------------------------------------------


def _jlog(spark, rows, side):
    """rows: (seq, kind, k, payload) -> one-sided changelog df."""
    col = "lv" if side == "l" else "rv"
    return spark.createDataFrame(
        rows, f"seq int, {CHANGE_COL} string, k int, {col} string"
    )


def _join_emissions(spark, lrows, rrows, how):
    from reshape_on_flink_spark.streaming.changelog import join_changelog

    out = join_changelog(
        _jlog(spark, lrows, "l"), _jlog(spark, rrows, "r"),
        "k", how, order_by="seq",
    )
    got = sorted(out.collect(), key=lambda r: (r.k, r._change_seq))
    return [(r._change_type, r.lv, r.rv) for r in got]


def test_join_changelog_inner_forwards_rowkind(spark):
    """INNER forwards the input RowKind (+I/+U accumulate, -U/-D
    retract) — StreamingJoinOperator.java:140-147."""
    l = [(1, INSERT, 1, "a"), (3, UPDATE_AFTER, 1, "b"), (4, UPDATE_BEFORE, 1, "a")]
    r = [(2, INSERT, 1, "x"), (5, DELETE, 1, "x")]
    assert _join_emissions(spark, l, r, "inner") == [
        ("+I", "a", "x"),   # R+I x matches a
        ("+U", "b", "x"),   # L+U b forwards +U
        ("-U", "a", "x"),   # L-U a forwards -U
        ("-D", "b", "x"),   # R-D x retracts the remaining match
    ]


def test_join_changelog_left_outer_null_padding(spark):
    """LEFT OUTER: null-padded row appears/disappears as the match
    count crosses zero; outer emissions are I/D only."""
    l = [(1, INSERT, 1, "a")]
    r = [(2, INSERT, 1, "x"), (3, INSERT, 1, "y"),
         (4, DELETE, 1, "x"), (5, DELETE, 1, "y")]
    assert _join_emissions(spark, l, r, "left") == [
        ("+I", "a", None),  # no match yet
        ("-D", "a", None),  # first match retracts the padding
        ("+I", "a", "x"),
        ("+I", "a", "y"),   # numOfAssociations 1 -> 2: no padding churn
        ("-D", "a", "x"),   # 2 -> 1: skip padding
        ("-D", "a", "y"),   # 1 -> 0:
        ("+I", "a", None),  # ...padding returns
    ]


def test_join_changelog_appear_count_duplicates(spark):
    """JoinRecordStateView with no unique key: identical records keep
    an appear-count; each stored copy joins."""
    l = [(1, INSERT, 1, "a"), (2, INSERT, 1, "a")]
    r = [(3, INSERT, 1, "x")]
    assert _join_emissions(spark, l, r, "inner") == [
        ("+I", "a", "x"), ("+I", "a", "x"),
    ]
    # retracting one copy retracts one joined row
    l2 = l + [(4, UPDATE_BEFORE, 1, "a")]
    assert _join_emissions(spark, l2, r, "inner") == [
        ("+I", "a", "x"), ("+I", "a", "x"), ("-U", "a", "x"),
    ]


def test_join_changelog_full_outer_and_guards(spark):
    """FULL OUTER pads both sides; retract-before-accumulate is loud."""
    l = [(1, INSERT, 1, "a")]
    r = [(2, INSERT, 2, "x")]
    got = _join_emissions(spark, l, r, "full")
    assert got == [("+I", "a", None), ("+I", None, "x")]
    import pytest as _pytest

    from reshape_on_flink_spark.streaming.changelog import join_changelog

    with _pytest.raises(Exception, match="never accumulated"):
        join_changelog(
            _jlog(spark, [(1, DELETE, 1, "a")], "l"),
            _jlog(spark, [], "r"),
            "k", "inner", order_by="seq",
        ).collect()
    with _pytest.raises(ValueError, match="collision"):
        join_changelog(
            _jlog(spark, l, "l"),
            _jlog(spark, l, "l"),  # same payload name on both sides
            "k", "inner",
        )


def test_join_changelog_condition_beyond_key(spark):
    """The generated joinCondition beyond the equi-key: rows only pair
    when the predicate passes; padding follows the FILTERED match set."""
    from reshape_on_flink_spark.streaming.changelog import join_changelog

    l = _jlog(spark, [(1, INSERT, 1, "a"), (2, INSERT, 1, "b")], "l")
    r = _jlog(spark, [(3, INSERT, 1, "x")], "r")
    out = join_changelog(
        l, r, "k", "left", order_by="seq",
        cond=lambda ld, rd: ld["lv"] == "a",
    )
    got = [
        (x._change_type, x.lv, x.rv)
        for x in sorted(out.collect(), key=lambda x: x._change_seq)
    ]
    assert got == [
        ("+I", "a", None),  # a arrives unmatched
        ("+I", "b", None),  # b never matches the predicate
        ("-D", "a", None),  # x pairs with a only: padding retracted...
        ("+I", "a", "x"),   # ...and the real pair emitted
    ]


def test_join_changelog_two_level_pipeline_stream_equals_batch(spark, tmp_dir):
    """The dynamic-table contract end-to-end: retract agg (per-user
    running count/sum) JOINed with a mutating dim changelog (user ->
    segment, one user re-segmented mid-stream), then a retraction-
    CONSUMING aggregate per segment — final state == batch
    recomputation on the final inputs. The -U/+U pairs flowing through
    the join are what make the segment totals right: without
    consumption, u1's counts would double-count in both segments."""
    from reshape_on_flink_spark.streaming.changelog import (
        join_changelog,
        retract_stream_to_table,
        to_retract_stream,
    )

    # facts: 12 rows over 4 users
    facts = [(i, i % 4, float(i)) for i in range(12)]
    fdf = spark.createDataFrame(facts, "seq int, user int, amt double")
    # dim changelog: u0,u1 -> A; u2,u3 -> B; then u1 re-segments A->B
    dim_rows = [
        (0, INSERT, 0, "A"), (1, INSERT, 1, "A"),
        (2, INSERT, 2, "B"), (3, INSERT, 3, "B"),
        (4, UPDATE_BEFORE, 1, "A"), (5, UPDATE_AFTER, 1, "B"),
    ]
    ddf = spark.createDataFrame(
        dim_rows, f"dseq int, {CHANGE_COL} string, user int, seg string"
    )

    # Spark allows ONE applyInPandasWithState per streaming query, so
    # each stateful stage runs as its own query and the changelog is
    # replayed across the boundary (the Flink-via-Kafka-topics shape).
    fstream = _replay(spark, fdf, tmp_dir, "jcl_facts", 3, "seq")
    agg_rows = _collect_stream(
        spark,
        to_retract_stream(
            fstream, "user",
            {"cnt": ("count", None), "s": ("sum", "amt")},
            granularity="row", order_by="seq",
        ),
        "jcl_agg_out", tmp_dir,
    )
    agg_hist = (
        spark.createDataFrame(agg_rows)
        .withColumnRenamed("_change_seq", "oseq")
        .withColumn("gseq", F.expr("oseq * 10 + user"))  # global replay order
    )

    lstream = _replay(spark, agg_hist, tmp_dir, "jcl_l", 3, "gseq").drop("gseq")
    rstream = (
        _replay(spark, ddf, tmp_dir, "jcl_dim", 3, "dseq")
        .withColumn("oseq", F.col("dseq").cast("long")).drop("dseq")
    )
    joined = join_changelog(lstream, rstream, "user", "inner", order_by="oseq")
    join_rows = _collect_stream(spark, joined, "jcl_join_out", tmp_dir)
    join_hist = spark.createDataFrame(join_rows).withColumn(
        "gseq", F.expr("_change_seq * 10 + user")
    )

    jstream = _replay(spark, join_hist, tmp_dir, "jcl_j", 3, "gseq").drop("gseq")
    seg_totals = to_retract_stream(
        jstream.drop("oseq"),
        "seg",
        {"users_cnt": ("count", None), "rows_s": ("sum", "cnt")},
        consume_changelog=True, order_by="_change_seq",
    )
    got = _collect_stream(spark, seg_totals, "jcl_out", tmp_dir)
    final = retract_stream_to_table(
        spark.createDataFrame(got, seg_totals.schema), ["seg"]
    )

    # batch recomputation on final inputs
    dim_final = spark.createDataFrame(
        [(0, "A"), (1, "B"), (2, "B"), (3, "B")], "user int, seg string"
    )
    batch = (
        fdf.groupBy("user").agg(F.count("*").alias("cnt"))
        .join(dim_final, "user")
        .groupBy("seg")
        .agg(F.count("*").alias("users_cnt"), F.sum("cnt").alias("rows_s"))
    )
    g = sorted((r.seg, r.users_cnt, float(r.rows_s)) for r in final.collect())
    b = sorted((r.seg, r.users_cnt, float(r.rows_s)) for r in batch.collect())
    assert g == b, (g, b)
    assert g[0][0] == "A" and g[0][1] == 1  # u1 really LEFT segment A


# ---------------------------------------------------------------------
# JoinInputSideSpec unique-key state views (JoinInputSideSpec.java:
# 34-120, JoinRecordStateViews.java:71/112/154, OuterJoinRecordState
# Views.java:75/143) — upsert state keyed by the unique key.
# ---------------------------------------------------------------------


def _jlog_uk(spark, rows):
    """rows: (seq, kind, k, uid, lv) -> left changelog with a unique key."""
    return spark.createDataFrame(
        rows, f"seq int, {CHANGE_COL} string, k int, uid int, lv string"
    )


def test_join_changelog_unique_key_upsert_and_retract_by_key(spark):
    """withUniqueKey: addRecord is a PUT — a second accumulate for the
    same unique key REPLACES the stored record (no appear-count), and
    retractRecord removes BY KEY even when the payload differs
    (JoinRecordStateViews.java:137-151)."""
    from reshape_on_flink_spark.streaming.changelog import join_changelog

    l = _jlog_uk(spark, [
        (1, INSERT, 1, 7, "a"),
        (2, INSERT, 1, 7, "b"),      # upsert: replaces 'a'
    ])
    r = _jlog(spark, [(3, INSERT, 1, "x")], "r")
    out = join_changelog(
        l, r, "k", "inner", order_by="seq", left_unique_key="uid",
    )
    got = [
        (rr._change_type, rr.uid, rr.lv, rr.rv)
        for rr in sorted(out.collect(), key=lambda rr: rr._change_seq)
    ]
    # only the replacement joins — the multiset view would emit both
    assert got == [("+I", 7, "b", "x")], got

    # retraction carries a DIFFERENT payload but the same unique key:
    # the record is removed by key (multiset view would raise)
    l2 = _jlog_uk(spark, [
        (1, INSERT, 1, 7, "a"),
        (2, INSERT, 1, 7, "b"),
        (4, UPDATE_BEFORE, 1, 7, "zzz"),
    ])
    out2 = join_changelog(
        l2, r, "k", "inner", order_by="seq", left_unique_key="uid",
    )
    got2 = [
        (rr._change_type, rr.uid, rr.lv, rr.rv)
        for rr in sorted(out2.collect(), key=lambda rr: rr._change_seq)
    ]
    assert got2 == [("+I", 7, "b", "x"), ("-U", 7, "zzz", "x")], got2


def test_join_changelog_join_key_contains_unique_key(spark):
    """JoinKeyContainsUniqueKey (every unique-key column inside `on`):
    the side's state is a single record slot per join key — the
    ValueState view (JoinRecordStateViews.java:71-109)."""
    from reshape_on_flink_spark.streaming.changelog import join_changelog

    l = _jlog(spark, [(1, INSERT, 1, "a"), (2, INSERT, 1, "b")], "l")
    r = _jlog(spark, [(3, INSERT, 1, "x")], "r")
    out = join_changelog(
        l, r, "k", "inner", order_by="seq", left_unique_key=["k"],
    )
    got = [
        (rr._change_type, rr.lv, rr.rv)
        for rr in sorted(out.collect(), key=lambda rr: rr._change_seq)
    ]
    assert got == [("+I", "b", "x")], got  # 'b' replaced 'a' in the slot


def test_join_changelog_unique_key_equals_multiset_on_proper_changelog(spark):
    """On a WELL-FORMED retract changelog (every -U precedes its
    replacement, unique key genuinely unique) the unique-key view and
    the multiset view emit identical sequences — the spec is pure
    state-size optimization, exactly like the reference planner's
    choice. Left outer exercises the numOfAssociations bookkeeping on
    the unique-key entries too."""
    from reshape_on_flink_spark.streaming.changelog import join_changelog

    lrows = [
        (1, INSERT, 1, 7, "a"),
        (4, UPDATE_BEFORE, 1, 7, "a"),
        (5, UPDATE_AFTER, 1, 7, "a2"),
        (6, INSERT, 1, 8, "c"),
    ]
    rrows = [(2, INSERT, 1, "x"), (3, INSERT, 1, "y"), (7, DELETE, 1, "x")]

    def run(**kw):
        out = join_changelog(
            _jlog_uk(spark, lrows), _jlog(spark, rrows, "r"),
            "k", "left", order_by="seq", **kw,
        )
        return [
            (rr._change_type, rr.uid, rr.lv, rr.rv)
            for rr in sorted(out.collect(), key=lambda rr: rr._change_seq)
        ]

    assert run(left_unique_key="uid") == run()


def test_join_state_view_units():
    """View-class contracts incl. pickle round-trips (they live inside
    the operator's keyed state blob)."""
    import pickle

    import pytest

    from reshape_on_flink_spark.streaming.changelog import (
        _MultisetView, _UniqueKeyView, _make_view,
    )

    m = _MultisetView()
    m.add(("a",)); m.add(("a",))
    assert m.items() == [(("a",), [2, 0])]
    assert m.retract(("a",))[0] == 1 and len(m) == 1
    assert m.retract(("b",)) is None  # never accumulated -> loud upstream

    u = _UniqueKeyView((0,))
    u.add(("k1", "v1")); u.add(("k1", "v2")); u.add(("k2", "v"))
    assert len(u) == 2  # upsert replaced v1
    assert sorted(r for r, _m in u.items()) == [("k1", "v2"), ("k2", "v")]
    assert u.retract(("k1", "whatever")) is not None  # remove by key
    assert u.retract(("k1", "v2")) is None
    u2 = pickle.loads(pickle.dumps(u))
    assert u2.items() == u.items() and u2.uk_idx == (0,)

    jk = _make_view(["k"], "left", ["k"], ["lv"])
    assert isinstance(jk, _UniqueKeyView) and jk.uk_idx == ()
    jk.add(("a",)); jk.add(("b",))
    assert jk.items() == [(("b",), [1, 0, ("b",)])]  # single slot

    with pytest.raises(ValueError, match="not in the left"):
        _make_view(["nope"], "left", ["k"], ["lv"])


# ---------------------------------------------------------------------
# window_agg_changelog — WindowOperator.java:341-391 (accumulate/retract
# per affected window, late rows dropped after cleanup, append output)
# ---------------------------------------------------------------------


def _wlog(spark, rows):
    """rows: (seq, kind, k, t, v) -> keyed changelog with event time t."""
    return spark.createDataFrame(
        rows, f"seq int, {CHANGE_COL} string, k int, t double, v double"
    )


_WAGGS = {"cnt": ("count", None), "s": ("sum", "v"), "mx": ("max", "v")}


def _wrows(out_df):
    return sorted(
        (r.k, r.window_start, r.window_end, r._change_type, r.cnt, r.s, r.mx)
        for r in out_df.collect()
    )


def test_window_agg_changelog_tumble_retracts_and_drained_window(spark):
    """Tumble(10): -D retracts from its window's accumulators; a window
    whose every row was retracted still FIRES with the drained
    aggregates (COUNT 0, SUM/MAX NULL) — emitWindowResult has no
    emptiness check."""
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog

    log = _wlog(spark, [
        (1, INSERT, 1, 1.0, 10.0),
        (2, INSERT, 1, 5.0, 20.0),
        (3, DELETE, 1, 5.0, 20.0),    # retracts the 20 in window [0,10)
        (4, INSERT, 1, 12.0, 7.0),
        (5, INSERT, 1, 23.0, 5.0),
        (6, DELETE, 1, 23.0, 5.0),    # drains window [20,30) entirely
    ])
    out = window_agg_changelog(
        log, "k", "t", _WAGGS, size=10.0, order_by="seq",
    )
    assert _wrows(out) == [
        (1, 0.0, 10.0, "+I", 1, 10.0, 10.0),
        (1, 10.0, 20.0, "+I", 1, 7.0, 7.0),
        (1, 20.0, 30.0, "+I", 0, None, None),  # drained but touched
    ], _wrows(out)


def test_window_agg_changelog_hop_multi_assign(spark):
    """Hop(size 10, slide 5): a row lands in BOTH overlapping windows
    and its retraction retracts from both (assignStateNamespace loop,
    WindowOperator.java:353-371)."""
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog

    log = _wlog(spark, [
        (1, INSERT, 1, 7.0, 10.0),   # windows [0,10) and [5,15)
        (2, INSERT, 1, 12.0, 3.0),   # windows [5,15) and [10,20)
        (3, UPDATE_BEFORE, 1, 7.0, 10.0),
        (4, UPDATE_AFTER, 1, 7.0, 11.0),  # amend the first fact
    ])
    out = window_agg_changelog(
        log, "k", "t", _WAGGS, size=10.0, slide=5.0, order_by="seq",
    )
    assert _wrows(out) == [
        (1, 0.0, 10.0, "+I", 1, 11.0, 11.0),
        (1, 5.0, 15.0, "+I", 2, 14.0, 11.0),
        (1, 10.0, 20.0, "+I", 1, 3.0, 3.0),
    ], _wrows(out)


def test_window_agg_changelog_stream_equals_batch(spark, tmp_dir):
    """Streaming route == batch route on every window the stream's
    high-water mark closed (trailing windows stay pending at the
    watermark — Flink leaves them in state too)."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog
    from reshape_on_flink_spark.streaming.source import chunked_replay

    rows, seq = [], 0
    for k in (1, 2):
        for i in range(12):
            t = float(3 * i + k)
            seq += 1
            rows.append((seq, INSERT, k, t, float(10 * i)))
            if i % 3 == 0:
                seq += 1
                rows.append((seq, DELETE, k, t, float(10 * i)))
    log = _wlog(spark, rows)
    batch = window_agg_changelog(log, "k", "t", _WAGGS, size=10.0, order_by="seq")
    max_tick = max(r[3] for r in rows)
    expected = [r for r in _wrows(batch) if r[2] <= max_tick]

    stream = chunked_replay(
        spark, log, os.path.join(tmp_dir, "wagg"), n_chunks=4, order_col="seq"
    )
    sout = window_agg_changelog(stream, "k", "t", _WAGGS, size=10.0, order_by="seq")
    got = _wrows(run_to_memory(spark, sout, "wagg_out", tmp_dir, mode="append"))
    assert got == expected and len(got) >= 6, (got, expected)


def test_window_agg_changelog_late_rows_dropped(spark, tmp_dir):
    """A row (here: a retraction) arriving AFTER its window fired is
    dropped — lateRecordsDroppedRate — leaving the emitted window as
    it was; the batch route (end-of-input watermark) still consumes
    it, pinning the documented divergence of late replays."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog
    from reshape_on_flink_spark.streaming.source import chunked_replay

    rows = [
        (1, INSERT, 1, 1.0, 10.0),
        (2, INSERT, 1, 25.0, 3.0),   # chunk 1 ends: wm=25, [0,10) fires
        (3, DELETE, 1, 1.0, 10.0),   # chunk 2: late retraction -> dropped
        (4, INSERT, 1, 38.0, 1.0),   # closes [20,30)
    ]
    log = _wlog(spark, rows)
    stream = chunked_replay(
        spark, log, os.path.join(tmp_dir, "wlate"), n_chunks=2, order_col="seq"
    )
    sout = window_agg_changelog(stream, "k", "t", _WAGGS, size=10.0, order_by="seq")
    got = _wrows(run_to_memory(spark, sout, "wlate_out", tmp_dir, mode="append"))
    assert (1, 0.0, 10.0, "+I", 1, 10.0, 10.0) in got, got  # unretracted
    # batch processes everything before firing: the window drains
    assert (1, 0.0, 10.0, "+I", 0, None, None) in _wrows(
        window_agg_changelog(log, "k", "t", _WAGGS, size=10.0, order_by="seq")
    )


def test_window_agg_changelog_timestamp_windows(spark):
    """Timestamp time column: size given as an interval string, window
    bounds emitted as timestamps."""
    import datetime as dt

    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, INSERT, 1, t0 + dt.timedelta(seconds=3), 5.0),
            (2, INSERT, 1, t0 + dt.timedelta(seconds=14), 6.0),
            (3, UPDATE_BEFORE, 1, t0 + dt.timedelta(seconds=3), 5.0),
        ],
        f"seq int, {CHANGE_COL} string, k int, t timestamp, v double",
    )
    out = window_agg_changelog(
        df, "k", "t", {"cnt": ("count", None), "s": ("sum", "v")},
        size="10 seconds", order_by="seq",
    )
    got = sorted((r.window_start, r.window_end, r.cnt, r.s) for r in out.collect())
    assert got == [
        (t0, t0 + dt.timedelta(seconds=10), 0, None),
        (t0 + dt.timedelta(seconds=10), t0 + dt.timedelta(seconds=20), 1, 6.0),
    ], got


# ---------------------------------------------------------------------
# retractable_topn — RetractableTopNFunctionTest.java ports (the
# reference's own emission matrices, compared per partition key in
# _change_seq order). Record model: (shop, rid, num), sort = num asc,
# ties by arrival — exactly the test base's selectors.
# ---------------------------------------------------------------------


def _topn_run(spark, rows, n, gen_ub, rownum, rank_start=1):
    import collections

    from reshape_on_flink_spark.streaming.changelog import retractable_topn

    df = spark.createDataFrame(
        rows, f"seq int, {CHANGE_COL} string, shop string, rid long, num int"
    )
    out = retractable_topn(
        df, "shop", [("num", "asc")],
        rank_end=n, rank_start=rank_start, output_rank_number=rownum,
        generate_update_before=gen_ub, order_by="seq",
    )
    res = collections.defaultdict(list)
    for r in sorted(out.collect(), key=lambda r: (r.shop, r._change_seq)):
        rec = (r._change_type, r.rid, r.num) + ((r.rank_num,) if rownum else ())
        res[r.shop].append(rec)
    return dict(res)


_TOPN_BOOKS = [
    (1, INSERT, "book", 1, 12),
    (2, INSERT, "book", 2, 19),
    (3, INSERT, "book", 4, 11),
    (4, UPDATE_BEFORE, "book", 1, 12),
    (5, INSERT, "book", 5, 11),
    (6, INSERT, "fruit", 4, 33),
    (7, INSERT, "fruit", 3, 44),
    (8, INSERT, "fruit", 5, 22),
]


def test_retractable_topn_retract_message_no_update_before(spark):
    """testProcessRetractMessageWithNotGenerateUpdateBefore (N=2)."""
    got = _topn_run(spark, _TOPN_BOOKS, 2, gen_ub=False, rownum=True)
    assert got == {
        "book": [
            ("+I", 1, 12, 1), ("+I", 2, 19, 2),
            ("+U", 4, 11, 1), ("+U", 1, 12, 2),
            ("+U", 2, 19, 2),                      # retract (1,12)
            ("+U", 5, 11, 2),
        ],
        "fruit": [
            ("+I", 4, 33, 1), ("+I", 3, 44, 2),
            ("+U", 5, 22, 1), ("+U", 4, 33, 2),
        ],
    }, got


def test_retractable_topn_retract_message_with_update_before(spark):
    """testProcessRetractMessageWithGenerateUpdateBefore (N=2)."""
    got = _topn_run(spark, _TOPN_BOOKS, 2, gen_ub=True, rownum=True)
    assert got == {
        "book": [
            ("+I", 1, 12, 1), ("+I", 2, 19, 2),
            ("-U", 1, 12, 1), ("+U", 4, 11, 1),
            ("-U", 2, 19, 2), ("+U", 1, 12, 2),
            ("-U", 1, 12, 2), ("+U", 2, 19, 2),
            ("-U", 2, 19, 2), ("+U", 5, 11, 2),
        ],
        "fruit": [
            ("+I", 4, 33, 1), ("+I", 3, 44, 2),
            ("-U", 4, 33, 1), ("+U", 5, 22, 1),
            ("-U", 3, 44, 2), ("+U", 4, 33, 2),
        ],
    }, got


_TOPN_INSERTS = [
    (1, INSERT, "book", 1, 12),
    (2, INSERT, "book", 2, 19),
    (3, INSERT, "book", 4, 11),
    (4, INSERT, "fruit", 4, 33),
    (5, INSERT, "fruit", 3, 44),
    (6, INSERT, "fruit", 5, 22),
    (7, INSERT, "book", 1, 10),  # the reference's post-restore record
]


def test_retractable_topn_rank_range_with_rownum_and_restore(spark):
    """testConstantRankRangeWithoutOffsetWithRowNumber incl. the
    snapshot/restore tail (state continuity == one long replay)."""
    got = _topn_run(spark, _TOPN_INSERTS, 2, gen_ub=True, rownum=True)
    assert got == {
        "book": [
            ("+I", 1, 12, 1), ("+I", 2, 19, 2),
            ("-U", 1, 12, 1), ("+U", 4, 11, 1),
            ("-U", 2, 19, 2), ("+U", 1, 12, 2),
            ("-U", 4, 11, 1), ("+U", 1, 10, 1),
            ("-U", 1, 12, 2), ("+U", 4, 11, 2),
        ],
        "fruit": [
            ("+I", 4, 33, 1), ("+I", 3, 44, 2),
            ("-U", 4, 33, 1), ("+U", 5, 22, 1),
            ("-U", 3, 44, 2), ("+U", 4, 33, 2),
        ],
    }, got


def test_retractable_topn_without_rownum_and_restore(spark):
    """testConstantRankRangeWithoutOffsetWithoutRowNumber: the
    without-number algorithm emits only the boundary churn (+I of the
    entrant, -D of the displaced row)."""
    got = _topn_run(spark, _TOPN_INSERTS, 2, gen_ub=True, rownum=False)
    assert got == {
        "book": [
            ("+I", 1, 12), ("+I", 2, 19),
            ("-D", 2, 19), ("+I", 4, 11),
            ("-D", 1, 12), ("+I", 1, 10),
        ],
        "fruit": [
            ("+I", 4, 33), ("+I", 3, 44),
            ("-D", 3, 44), ("+I", 5, 22),
        ],
    }, got


_TOPN_TIES = [
    (1, INSERT, "a", 1, 1),
    (2, INSERT, "a", 2, 2),
    (3, INSERT, "a", 3, 2),
    (4, INSERT, "a", 4, 2),
    (5, INSERT, "a", 5, 3),
    (6, INSERT, "a", 6, 4),
    (7, UPDATE_BEFORE, "a", 2, 2),
]


def test_retractable_topn_ties_without_rownum(spark):
    """testConstantRankRangeWithoutRowNumber (N=3): equal sort keys
    rank by ARRIVAL order; the retraction promotes the same-key row
    waiting at rank 4."""
    got = _topn_run(spark, _TOPN_TIES, 3, gen_ub=False, rownum=False)
    assert got == {
        "a": [
            ("+I", 1, 1), ("+I", 2, 2), ("+I", 3, 2),
            ("-D", 2, 2), ("+I", 4, 2),
        ],
    }, got


def test_retractable_topn_ties_with_rownum(spark):
    """testConstantRankRangeWithRowNumber (N=3, no update-before)."""
    got = _topn_run(spark, _TOPN_TIES, 3, gen_ub=False, rownum=True)
    assert got == {
        "a": [
            ("+I", 1, 1, 1), ("+I", 2, 2, 2), ("+I", 3, 2, 3),
            ("+U", 3, 2, 2), ("+U", 4, 2, 3),
        ],
    }, got


_TOPN_OOR = [
    (1, INSERT, "a", 1, 1),
    (2, INSERT, "a", 2, 2),
    (3, INSERT, "a", 3, 2),
    (4, INSERT, "a", 4, 4),
    (5, INSERT, "a", 5, 4),
    (6, DELETE, "a", 4, 4),
    (7, DELETE, "a", 1, 1),
    (8, DELETE, "a", 2, 2),
]


def test_retractable_topn_retract_out_of_range(spark):
    """testRetractRecordOutOfRankRange{Without,With}RowNumber (N=2):
    deleting a row below the cut emits nothing; deleting in-range rows
    promotes the successors."""
    got = _topn_run(spark, _TOPN_OOR, 2, gen_ub=False, rownum=False)
    assert got == {
        "a": [
            ("+I", 1, 1), ("+I", 2, 2),
            ("-D", 1, 1), ("+I", 3, 2),
            ("-D", 2, 2), ("+I", 5, 4),
        ],
    }, got
    got2 = _topn_run(spark, _TOPN_OOR, 2, gen_ub=False, rownum=True)
    assert got2 == {
        "a": [
            ("+I", 1, 1, 1), ("+I", 2, 2, 2),
            ("+U", 2, 2, 1), ("+U", 3, 2, 2),
            ("+U", 3, 2, 1), ("+U", 5, 4, 2),
        ],
    }, got2


def test_retractable_topn_offset_range(spark):
    """ConstantRankRange(2,3) — hasOffset forces the with-number
    algorithm and every emission is range-checked, so rank-1 churn is
    silent (derived from AbstractTopNFunction.java:245-301)."""
    rows = [
        (1, INSERT, "a", 1, 1),
        (2, INSERT, "a", 2, 2),
        (3, INSERT, "a", 3, 3),
        (4, INSERT, "a", 4, 4),
        (5, INSERT, "a", 0, 0),  # new rank-1: shifts 2->r2(sic) etc.
    ]
    got = _topn_run(spark, rows, 3, gen_ub=True, rownum=True, rank_start=2)
    assert got == {
        "a": [
            ("+I", 2, 2, 2), ("+I", 3, 3, 3),
            ("-U", 2, 2, 2), ("+U", 1, 1, 2),
            ("-U", 3, 3, 3), ("+U", 2, 2, 3),
        ],
    }, got


def test_retractable_topn_stream_equals_batch(spark, tmp_dir):
    """Streaming route across 3 chunks == batch route (snapshot/restore
    continuity, the reference test's mid-test snapshot)."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.changelog import retractable_topn
    from reshape_on_flink_spark.streaming.source import chunked_replay

    df = spark.createDataFrame(
        _TOPN_BOOKS + [(9 + i, k, s, r, n) for i, (k, s, r, n) in enumerate([
            (DELETE, "book", 4, 11), (INSERT, "fruit", 7, 11),
            (INSERT, "book", 8, 5), (DELETE, "fruit", 5, 22),
        ])],
        f"seq int, {CHANGE_COL} string, shop string, rid long, num int",
    )
    kw = dict(rank_end=2, output_rank_number=True, order_by="seq")
    batch = retractable_topn(df, "shop", [("num", "asc")], **kw)
    expected = sorted(map(tuple, batch.collect()))
    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "rtopn"), n_chunks=3, order_col="seq"
    )
    sout = retractable_topn(stream, "shop", [("num", "asc")], **kw)
    got = sorted(
        map(tuple, run_to_memory(spark, sout, "rtopn_out", tmp_dir, mode="append").collect())
    )
    assert got == expected and len(got) >= 16, (len(got), got[:4])


def test_retractable_topn_high_k_sorted_list(spark):
    """High-K guard for the TreeMap-parity sorted list
    (RetractableTopNFunction.java:53): one key, 10k distinct sort keys.
    The pre-r11 per-record ``sorted(smap)`` made this O(K^2 log K)
    (~minutes); the bisect-maintained list keeps per-record cost flat
    (seconds, dominated by Spark fixed overhead). Net state after
    inserts + deletes must equal the brute-force Top-N."""
    import collections
    import random
    import time

    from reshape_on_flink_spark.streaming.changelog import retractable_topn

    rng = random.Random(11)
    nums = list(range(10_000))
    rng.shuffle(nums)
    rows = [(i + 1, INSERT, "a", 100_000 + n, n) for i, n in enumerate(nums)]
    dels = rng.sample(nums, 200)
    rows += [
        (len(rows) + j + 1, DELETE, "a", 100_000 + n, n)
        for j, n in enumerate(dels)
    ]
    df = spark.createDataFrame(
        rows, f"seq int, {CHANGE_COL} string, shop string, rid long, num int"
    )
    t0 = time.perf_counter()
    out = retractable_topn(
        df, "shop", [("num", "asc")],
        rank_end=5, output_rank_number=False,
        generate_update_before=False, order_by="seq",
    ).collect()
    elapsed = time.perf_counter() - t0
    # net the +I/-D changelog into the final Top-5
    net = collections.Counter()
    for r in sorted(out, key=lambda r: r._change_seq):
        net[(r.rid, r.num)] += 1 if r._change_type == INSERT else -1
    live = sorted(k for k, c in net.items() if c)
    alive = sorted(set(nums) - set(dels))[:5]
    assert live == [(100_000 + n, n) for n in alive], live
    # pre-fix this path took minutes; generous bound still catches an
    # O(K^2) regression while tolerating a loaded box
    assert elapsed < 120, f"high-K retractable_topn took {elapsed:.0f}s"


# ---------------------------------------------------------------------
# updatable_topn — UpdatableTopNFunctionTest.java ports (upsert-input
# fast path: state holds only the Top-N, updates move rows up in rank).
# ---------------------------------------------------------------------


_UPDATABLE_ROWS = [
    (1, INSERT, "book", 2, 19),
    (2, INSERT, "book", 3, 16),
    (3, UPDATE_AFTER, "book", 2, 11),
    (4, UPDATE_AFTER, "book", 3, 15),
    (5, INSERT, "book", 4, 2),
    (6, UPDATE_AFTER, "book", 2, 1),
]


def _utopn_run(spark, rows, n, gen_ub, rownum):
    import collections

    from reshape_on_flink_spark.streaming.changelog import updatable_topn

    df = spark.createDataFrame(
        rows, f"seq int, {CHANGE_COL} string, shop string, rid long, num int"
    )
    out = updatable_topn(
        df, "shop", "rid", [("num", "asc")],
        rank_end=n, output_rank_number=rownum,
        generate_update_before=gen_ub, order_by="seq",
    )
    res = collections.defaultdict(list)
    for r in sorted(out.collect(), key=lambda r: (r.shop, r._change_seq)):
        rec = (r._change_type, r.rid, r.num) + ((r.rank_num,) if rownum else ())
        res[r.shop].append(rec)
    return dict(res)


def test_updatable_topn_sort_key_changes_with_rownum(spark):
    """testSortKeyChangesWhenOutputRankNumber (N=2): rank-improving
    updates shift only the rows between the new and old rank."""
    got = _utopn_run(spark, _UPDATABLE_ROWS, 2, gen_ub=True, rownum=True)
    assert got == {
        "book": [
            ("+I", 2, 19, 1),
            ("-U", 2, 19, 1), ("+U", 3, 16, 1), ("+I", 2, 19, 2),
            ("-U", 3, 16, 1), ("+U", 2, 11, 1),
            ("-U", 2, 19, 2), ("+U", 3, 16, 2),
            ("-U", 3, 16, 2), ("+U", 3, 15, 2),
            ("-U", 2, 11, 1), ("+U", 4, 2, 1),
            ("-U", 3, 15, 2), ("+U", 2, 11, 2),
            ("-U", 4, 2, 1), ("+U", 2, 1, 1),
            ("-U", 2, 11, 2), ("+U", 4, 2, 2),
        ],
    }, got


def test_updatable_topn_sort_key_changes_with_rownum_no_ub(spark):
    """...AndNotGenerateUpdateBefore variant."""
    got = _utopn_run(spark, _UPDATABLE_ROWS, 2, gen_ub=False, rownum=True)
    assert got == {
        "book": [
            ("+I", 2, 19, 1),
            ("+U", 3, 16, 1), ("+I", 2, 19, 2),
            ("+U", 2, 11, 1), ("+U", 3, 16, 2),
            ("+U", 3, 15, 2),
            ("+U", 4, 2, 1), ("+U", 2, 11, 2),
            ("+U", 2, 1, 1), ("+U", 4, 2, 2),
        ],
    }, got


def test_updatable_topn_sort_key_changes_without_rownum(spark):
    """testSortKeyChangesWhenNotOutputRankNumber: in-place -U/+U for
    tracked rows, boundary -D/+I churn for entrants."""
    got = _utopn_run(spark, _UPDATABLE_ROWS, 2, gen_ub=True, rownum=False)
    assert got == {
        "book": [
            ("+I", 2, 19), ("+I", 3, 16),
            ("-U", 2, 19), ("+U", 2, 11),
            ("-U", 3, 16), ("+U", 3, 15),
            ("-D", 3, 15), ("+I", 4, 2),
            ("-U", 2, 11), ("+U", 2, 1),
        ],
    }, got


def test_updatable_topn_sort_key_changes_without_rownum_no_ub(spark):
    """...AndNotGenerateUpdateBefore variant."""
    got = _utopn_run(spark, _UPDATABLE_ROWS, 2, gen_ub=False, rownum=False)
    assert got == {
        "book": [
            ("+I", 2, 19), ("+I", 3, 16),
            ("+U", 2, 11),
            ("+U", 3, 15),
            ("-D", 3, 15), ("+I", 4, 2),
            ("+U", 2, 1),
        ],
    }, got


def test_updatable_topn_guards_and_stream_equals_batch(spark, tmp_dir):
    """-U/-D inputs are loud (upsert contract); streaming == batch
    across chunked replay (state continuity)."""
    import os

    import pytest

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.changelog import updatable_topn
    from reshape_on_flink_spark.streaming.source import chunked_replay

    bad = spark.createDataFrame(
        [(1, DELETE, "book", 2, 19)],
        f"seq int, {CHANGE_COL} string, shop string, rid long, num int",
    )
    with pytest.raises(Exception, match="UPSERT"):
        updatable_topn(
            bad, "shop", "rid", [("num", "asc")], rank_end=2, order_by="seq"
        ).collect()

    df = spark.createDataFrame(
        _UPDATABLE_ROWS + [(7, INSERT, "fruit", 9, 3), (8, UPDATE_AFTER, "fruit", 9, 1)],
        f"seq int, {CHANGE_COL} string, shop string, rid long, num int",
    )
    kw = dict(rank_end=2, output_rank_number=True, order_by="seq")
    expected = sorted(
        map(tuple, updatable_topn(df, "shop", "rid", [("num", "asc")], **kw).collect())
    )
    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "utopn"), n_chunks=3, order_col="seq"
    )
    got = sorted(map(tuple, run_to_memory(
        spark,
        updatable_topn(stream, "shop", "rid", [("num", "asc")], **kw),
        "utopn_out", tmp_dir, mode="append",
    ).collect()))
    assert got == expected and len(got) >= 18, (len(got), got[:4])


# ---------------------------------------------------------------------
# window_agg_changelog SESSION windows (SessionWindowAssigner +
# MergingWindowProcessFunction.java:74-96: every row's proto-window
# joins the merge set regardless of RowKind; no un-merge on retract)
# ---------------------------------------------------------------------


def test_window_agg_changelog_session_merge_and_retract(spark):
    """gap=5: retracting a session row subtracts from the merged
    accumulators but never shrinks the session's extent."""
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog

    log = _wlog(spark, [
        (1, INSERT, 1, 1.0, 10.0),
        (2, INSERT, 1, 4.0, 20.0),   # merges into [1, 9)
        (3, DELETE, 1, 4.0, 20.0),   # subtract; extent stays [1, 9)
        (4, INSERT, 1, 20.0, 7.0),
        (5, INSERT, 1, 23.0, 5.0),   # merges into [20, 28)
        (6, DELETE, 1, 23.0, 5.0),
    ])
    out = window_agg_changelog(log, "k", "t", _WAGGS, gap=5.0, order_by="seq")
    assert _wrows(out) == [
        (1, 1.0, 9.0, "+I", 1, 10.0, 10.0),
        (1, 20.0, 28.0, "+I", 1, 7.0, 7.0),
    ], _wrows(out)


def test_window_agg_changelog_session_bridge_and_touch(spark):
    """A row exactly `gap` after a session's last event still joins it
    (boundary-inclusive intersects), and a bridging row merges two
    previously separate sessions into one."""
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog

    log = _wlog(spark, [
        (1, INSERT, 1, 1.0, 1.0),
        (2, INSERT, 1, 10.0, 2.0),   # [1,6) and [10,15): separate
        (3, INSERT, 1, 6.0, 4.0),    # [6,11) touches both -> [1,15)
        (4, INSERT, 2, 0.0, 9.0),
        (5, INSERT, 2, 5.0, 8.0),    # exactly gap later: same session
    ])
    out = window_agg_changelog(log, "k", "t", _WAGGS, gap=5.0, order_by="seq")
    assert _wrows(out) == [
        (1, 1.0, 15.0, "+I", 3, 7.0, 4.0),
        (2, 0.0, 10.0, "+I", 2, 17.0, 9.0),
    ], _wrows(out)


def test_window_agg_changelog_session_stream_equals_batch(spark, tmp_dir):
    """Streaming sessions fire at the key's high-water mark and match
    the batch route on every closed session."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog
    from reshape_on_flink_spark.streaming.source import chunked_replay

    rows, seq = [], 0
    for k in (1, 2):
        t = float(k)
        for i in range(10):
            # monotone per key (the operator's in-order caveat), mixed
            # gaps around the session gap of 4
            t += 3.0 if i % 3 else 9.0
            seq += 1
            rows.append((seq, INSERT, k, t, float(i)))
            if i % 3 == 0:
                seq += 1
                rows.append((seq, DELETE, k, t, float(i)))
    log = _wlog(spark, rows)
    batch = window_agg_changelog(log, "k", "t", _WAGGS, gap=4.0, order_by="seq")
    max_tick = max(r[3] for r in rows)
    expected = [r for r in _wrows(batch) if r[2] <= max_tick]
    assert len(expected) >= 4  # non-degenerate

    stream = chunked_replay(
        spark, log, os.path.join(tmp_dir, "sagg"), n_chunks=4, order_col="seq"
    )
    sout = window_agg_changelog(stream, "k", "t", _WAGGS, gap=4.0, order_by="seq")
    got = _wrows(run_to_memory(spark, sout, "sagg_out", tmp_dir, mode="append"))
    assert got == expected, (got, expected)


def test_window_agg_changelog_session_late_drop_and_guards(spark, tmp_dir):
    """A row whose merged session would end at/before the watermark is
    late-dropped (the fired session is immutable); size/gap/slide
    parameter combinations are validated."""
    import os

    import pytest

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog
    from reshape_on_flink_spark.streaming.source import chunked_replay

    rows = [
        (1, INSERT, 1, 1.0, 10.0),
        (2, INSERT, 1, 30.0, 3.0),   # chunk 1: wm=30, [1,6) fires
        (3, DELETE, 1, 1.0, 10.0),   # chunk 2: late -> dropped
        (4, INSERT, 1, 60.0, 1.0),   # closes [30,35)
    ]
    log = _wlog(spark, rows)
    stream = chunked_replay(
        spark, log, os.path.join(tmp_dir, "slate"), n_chunks=2, order_col="seq"
    )
    sout = window_agg_changelog(stream, "k", "t", _WAGGS, gap=5.0, order_by="seq")
    got = _wrows(run_to_memory(spark, sout, "slate_out", tmp_dir, mode="append"))
    assert (1, 1.0, 6.0, "+I", 1, 10.0, 10.0) in got, got

    with pytest.raises(ValueError, match="exactly one"):
        window_agg_changelog(log, "k", "t", _WAGGS, size=5.0, gap=5.0)
    with pytest.raises(ValueError, match="hop"):
        window_agg_changelog(log, "k", "t", _WAGGS, gap=5.0, slide=2.0)


# ---------------------------------------------------------------------------
# Round-13 optimization internals: pinned Python-stage parallelism and
# multi-column order_by (composite replay order without a window pass).
# ---------------------------------------------------------------------------


def test_python_stage_partitions_pinned(spark):
    """repartition_for_python_stage must defeat AQE's byte-based
    coalescing: a keyed batch applyInPandas over a few-MB input ran on
    1-2 post-shuffle partitions (AQE sizes partitions by bytes; a Python
    replay's cost is per row), serializing the stage. The pin follows
    spark.sql.shuffle.partitions."""
    import pandas as pd
    from pyspark.sql import functions as F

    from reshape_on_flink_spark.session import repartition_for_python_stage

    n_conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.range(0, 20000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    )

    def fn(key, b):
        return pd.DataFrame({"k": [key[0]], "n": [len(b)]})

    pinned = (
        repartition_for_python_stage(df, "k")
        .groupBy("k")
        .applyInPandas(fn, "k long, n long")
    )
    n_parts = (
        pinned.withColumn("p", F.spark_partition_id())
        .select("p").distinct().count()
    )
    # the pinned fan-out spreads the 1000 keys across (most of) the
    # pinned width — a lower bound, not exact coverage: hashing can
    # leave buckets empty in expectation. Round 14: the pin caps its
    # width for SMALL estimated inputs (this 20k-row range is one), but
    # never below PYTHON_STAGE_MIN_PARTITIONS — anything above half the
    # floor is still unambiguously distinct from AQE's 1-2 coalesced
    # partitions, which is the failure the pin defends against.
    from reshape_on_flink_spark.session import PYTHON_STAGE_MIN_PARTITIONS

    floor = min(n_conf, PYTHON_STAGE_MIN_PARTITIONS, 1000)
    assert n_parts > floor // 2
    # and the results are unchanged
    assert pinned.agg(F.sum("n")).collect()[0][0] == 20000


def test_python_stage_pin_cap_scales_with_input(spark):
    """The round-14 size cap on repartition_for_python_stage: a small
    estimated input pins to the floor (not 1-2, not the full configured
    width) — min(PYTHON_STAGE_MIN_PARTITIONS, task slots), so a small
    stage runs in one wave; a large estimated input re-opens the
    configured width."""
    from pyspark.sql import functions as F

    from reshape_on_flink_spark.session import (
        PYTHON_STAGE_MIN_PARTITIONS,
        PYTHON_STAGE_TASK_BYTES,
        repartition_for_python_stage,
        task_slots,
    )

    n_conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    small = spark.range(0, 1000).select((F.col("id") % 97).alias("k"))
    n_small = repartition_for_python_stage(
        small, "k", task_bytes=PYTHON_STAGE_TASK_BYTES
    ).rdd.getNumPartitions()
    assert n_small == min(n_conf, PYTHON_STAGE_MIN_PARTITIONS, task_slots(spark))
    # without task_bytes (per-ROW-cost stages) the width stays configured
    n_def = repartition_for_python_stage(small, "k").rdd.getNumPartitions()
    assert n_def == n_conf
    # wide enough that the optimizer estimate clears n_conf * target
    big_rows = (n_conf * PYTHON_STAGE_TASK_BYTES) // 8  # ~8 bytes/long row
    big = spark.range(0, big_rows * 2).select((F.col("id") % 1000).alias("k"))
    n_big = repartition_for_python_stage(
        big, "k", task_bytes=PYTHON_STAGE_TASK_BYTES
    ).rdd.getNumPartitions()
    assert n_big == n_conf


def test_python_stage_floor_capped_at_task_slots(spark, monkeypatch):
    """The small-input floor never exceeds the scheduler's task slots (a
    second wave of per-task Python setup buys no parallelism); more
    slots than PYTHON_STAGE_MIN_PARTITIONS keep the floor, and a
    cluster with no executor registered yet (0 slots) keeps it too."""
    from pyspark.sql import functions as F

    from reshape_on_flink_spark import session
    from reshape_on_flink_spark.session import (
        PYTHON_STAGE_MIN_PARTITIONS,
        PYTHON_STAGE_TASK_BYTES,
        python_stage_width,
    )

    master = spark.sparkContext.master  # local[N]: N slots
    assert session.task_slots(spark) == int(master[len("local["):-1])
    small = spark.range(0, 1000).select((F.col("id") % 97).alias("k"))
    n_conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for slots, want in (
        (3, 3),
        (64, PYTHON_STAGE_MIN_PARTITIONS),
        (0, PYTHON_STAGE_MIN_PARTITIONS),
    ):
        monkeypatch.setattr(session, "task_slots", lambda _s, n=slots: n)
        got = python_stage_width(small, task_bytes=PYTHON_STAGE_TASK_BYTES)
        assert got == min(n_conf, want), (slots, got)


_STATE_WIDTH_SCRIPT = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from reshape_on_flink_spark.session import get_spark, task_slots
from reshape_on_flink_spark.streaming.changelog import join_changelog
from reshape_on_flink_spark.streaming.source import chunked_replay

spark = get_spark("state_width", cores=2, extra_confs={"spark.driver.memory": "1g"})
left = spark.createDataFrame(
    [(k % 5, "+I", k, k) for k in range(20)],
    "k long, _change_type string, v long, oseq long",
)
right = spark.createDataFrame(
    [(k, "+I", 10 * k, -1) for k in range(5)],
    "k long, _change_type string, w long, oseq long",
)
base = sys.argv[2]
ls = chunked_replay(spark, left, os.path.join(base, "l"), n_chunks=2, order_col="oseq")
rs = chunked_replay(spark, right, os.path.join(base, "r"), n_chunks=1, order_col="oseq")
q = (
    join_changelog(ls, rs, "k", "inner", order_by="oseq")
    .writeStream.format("memory").queryName("state_width")
    .outputMode("append")
    .option("checkpointLocation", os.path.join(base, "ckpt"))
    .start()
)
q.processAllAvailable()
progress = q.lastProgress
q.stop()
print(json.dumps({
    "slots": task_slots(spark),
    "conf": int(spark.conf.get("spark.sql.shuffle.partitions")),
    "state": progress["stateOperators"][0]["numShufflePartitions"],
    "rows": spark.table("state_width").count(),
}))
spark.stop()
"""


def test_state_stage_runs_one_wave_below_eight_slots(tmp_path):
    """A session narrower than 8 slots starts its keyed-state stages at
    the slot count: the stream's state partitions are fixed from
    ``spark.sql.shuffle.partitions`` when the query starts and are never
    coalesced, so a wider setting would run every micro-batch in two
    waves. The shared test session is ``local[8]``, where both agree,
    so this runs its own 2-core session."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "state_width.py"
    script.write_text(_STATE_WIDTH_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script), repo, str(tmp_path / "data")],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["slots"] == 2
    assert out["conf"] == out["slots"]
    assert out["state"] == out["slots"]
    assert out["rows"] == 20


def test_retractable_topn_order_by_list_equals_synthetic_seq(spark):
    """order_by=[cols...] (composite replay order) must replay exactly
    like the old single synthetic sequence column built by a ROW_NUMBER
    window — same emission history, same _change_seq values."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from reshape_on_flink_spark.streaming.changelog import retractable_topn

    rows = [
        (1, 10, 5), (1, 11, 9), (1, 12, 9), (1, 13, 2),
        (1, 14, 9), (1, 15, 1), (2, 20, 7), (2, 21, 7), (2, 22, 3),
    ]
    base = spark.createDataFrame(rows, "k long, eid long, amt long")

    # old shape: window rank -> oseq 2rn / 2rn+1, union of ins + dels
    w = W.partitionBy("k").orderBy("eid")
    seqd = base.withColumn("rn", F.row_number().over(w))
    ins = seqd.select(
        "k", F.lit("+I").alias("_change_type"), "eid", "amt",
        (F.col("rn") * 2).cast("long").alias("oseq"),
    )
    dels = seqd.where(F.col("eid") % 3 == 0).select(
        "k", F.lit("-D").alias("_change_type"), "eid", "amt",
        (F.col("rn") * 2 + 1).cast("long").alias("oseq"),
    )
    old = retractable_topn(
        ins.unionByName(dels), "k", [("amt", "desc"), ("eid", "asc")],
        rank_end=2, output_rank_number=True, order_by="oseq",
    )

    # new shape: explode the RowKinds, composite (eid, '+I'<'-D') order
    rec = base.select(
        "k", "eid", "amt",
        F.explode(
            F.when(F.col("eid") % 3 == 0, F.array(F.lit("+I"), F.lit("-D")))
            .otherwise(F.array(F.lit("+I")))
        ).alias("_change_type"),
    )
    new = retractable_topn(
        rec, "k", [("amt", "desc"), ("eid", "asc")],
        rank_end=2, output_rank_number=True,
        order_by=["eid", "_change_type"],
    )

    cols = ["_change_type", "k", "eid", "amt", "rank_num", "_change_seq"]
    assert sorted(map(tuple, old.select(*cols).collect())) == sorted(
        map(tuple, new.select(*cols).collect())
    )


def test_window_agg_changelog_order_by_list(spark):
    """window_agg_changelog with a composite order list equals the
    synthetic-oseq replay (tumble + the min/max retraction multiset)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog

    rows = [
        (1, 1, 10.0, 5.0), (1, 2, 20.0, 9.0), (1, 3, 30.0, 9.0),
        (1, 4, 130.0, 2.0), (2, 5, 15.0, 7.0), (2, 6, 15.0, 3.0),
    ]
    base = spark.createDataFrame(rows, "k long, eid long, t double, amt double")
    aggs = {"cnt": ("count", None), "s": ("sum", "amt"), "m": ("max", "amt")}

    w = W.partitionBy("k").orderBy("t", "eid")
    seqd = base.withColumn("rn", F.row_number().over(w))
    ins = seqd.select(
        "k", F.lit("+I").alias("_change_type"), "t", "amt",
        (F.col("rn") * 2).cast("long").alias("oseq"),
    )
    dels = seqd.where(F.col("eid") % 3 == 0).select(
        "k", F.lit("-D").alias("_change_type"), "t", "amt",
        (F.col("rn") * 2 + 1).cast("long").alias("oseq"),
    )
    old = window_agg_changelog(
        ins.unionByName(dels), "k", "t", aggs, size=100.0, order_by="oseq"
    )

    rec = base.select(
        "k", "eid", "t", "amt",
        F.explode(
            F.when(F.col("eid") % 3 == 0, F.array(F.lit("+I"), F.lit("-D")))
            .otherwise(F.array(F.lit("+I")))
        ).alias("_change_type"),
    )
    new = window_agg_changelog(
        rec, "k", "t", aggs, size=100.0, order_by=["t", "eid", "_change_type"]
    )

    cols = ["_change_type", "window_start", "window_end", "k", "cnt", "s", "m"]
    assert sorted(map(tuple, old.select(*cols).collect())) == sorted(
        map(tuple, new.select(*cols).collect())
    )


def test_window_agg_changelog_null_event_time_is_loud(spark, tmp_dir):
    """A NULL event time fails loudly, naming the time column, for every
    assigner and on both routes (Flink rejects a NULL rowtime too): a
    tumble/hop row cannot be assigned a window, and a session row would
    open a window that never fires."""
    import os

    import pytest

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog
    from reshape_on_flink_spark.streaming.source import chunked_replay

    log = _wlog(spark, [
        (1, INSERT, 1, 1.0, 5.0),
        (2, INSERT, 1, None, 7.0),
        (3, INSERT, 1, 2.0, 1.0),
    ])
    for kw in ({"size": 10.0}, {"size": 10.0, "slide": 5.0}, {"gap": 10.0}):
        out = window_agg_changelog(log, "k", "t", _WAGGS, order_by="seq", **kw)
        with pytest.raises(Exception, match="null event time in column 't'"):
            out.collect()
    stream = chunked_replay(
        spark, log, os.path.join(tmp_dir, "wnull"), n_chunks=1, order_col="seq"
    )
    sout = window_agg_changelog(stream, "k", "t", _WAGGS, gap=10.0, order_by="seq")
    with pytest.raises(Exception, match="null event time in column 't'"):
        run_to_memory(spark, sout, "wnull_out", tmp_dir, mode="append")


# ---------------------------------------------------------------------
# dedup_keep_last_changelog — DeduplicateFunctionHelper.java:42-147
# (processLastRowOnProcTime / processLastRowOnChangelog emission)
# ---------------------------------------------------------------------


def _dedup_rows(out_df):
    return sorted(
        (r.k, r._change_seq, r._change_type, r.v) for r in out_df.collect()
    )


def test_dedup_keep_last_changelog_append_and_tombstone(spark):
    """Append input: first row +I, a replacement -U(old)/+U(new), a row
    equal to the stored one emits nothing. Changelog input: a -D
    tombstone emits -D with the STORED row, and the key starts over."""
    from reshape_on_flink_spark.streaming.changelog import dedup_keep_last_changelog

    df = spark.createDataFrame(
        [(0, 1, "a"), (1, 1, "b"), (2, 1, "b"), (3, 2, "x")],
        "oseq long, k int, v string",
    )
    out = dedup_keep_last_changelog(df, "k", order_by="oseq")
    assert out.columns == [CHANGE_COL, "k", "v", "_change_seq"]
    assert _dedup_rows(out) == [
        (1, 0, "+I", "a"), (1, 1, "-U", "a"), (1, 2, "+U", "b"),
        (2, 0, "+I", "x"),
    ]

    log = spark.createDataFrame(
        [(0, INSERT, 1, "a"), (1, DELETE, 1, None), (2, INSERT, 1, "c")],
        f"oseq long, {CHANGE_COL} string, k int, v string",
    )
    out = dedup_keep_last_changelog(
        log, "k", consume_changelog=True, order_by="oseq"
    )
    assert _dedup_rows(out) == [
        (1, 0, "+I", "a"), (1, 1, "-D", "a"), (1, 2, "+I", "c"),
    ]


def test_dedup_keep_last_changelog_stream_equals_batch(spark, tmp_dir):
    """Streaming route across 3 chunks == batch route (state carries the
    stored row and the _change_seq across micro-batches)."""
    import os

    from tests.test_streaming import run_to_memory
    from reshape_on_flink_spark.streaming.changelog import dedup_keep_last_changelog
    from reshape_on_flink_spark.streaming.source import chunked_replay

    kinds = [INSERT, UPDATE_AFTER, UPDATE_AFTER, DELETE, INSERT, UPDATE_AFTER]
    rows = [
        (i, kinds[i % len(kinds)], k, "abc"[(i // 2) % 3])
        for i in range(18)
        for k in (i % 3,)
    ]
    log = spark.createDataFrame(
        rows, f"oseq long, {CHANGE_COL} string, k int, v string"
    )
    kw = dict(consume_changelog=True, order_by="oseq")
    expected = _dedup_rows(dedup_keep_last_changelog(log, "k", **kw))
    stream = chunked_replay(
        spark, log, os.path.join(tmp_dir, "dedup"), n_chunks=3, order_col="oseq"
    )
    got = _dedup_rows(run_to_memory(
        spark, dedup_keep_last_changelog(stream, "k", **kw),
        "dedup_out", tmp_dir, mode="append",
    ))
    assert got == expected and len(got) >= 12, (len(got), got)
