"""Streaming-semantics queries, batch-expressed for the oracle gate.

These are the *semantics* of the reference's streaming operators
(SURVEY.md §2.9: window assigners, interval joins, temporal ordering,
windowed rank), run in batch mode so the driver can hash-compare against
DuckDB. The genuinely-streaming executions of the same semantics (with
watermarks, state, and micro-batches) live in
``reshape_on_flink_spark/streaming/`` and are validated stream-vs-batch in
``tests/test_streaming.py`` — stream-batch unification means THESE queries
are their oracles too.

Determinism: window bounds are emitted as epoch seconds (BIGINT) because
the raw event timestamps are nanosecond-precision in parquet (Spark
truncates to µs, DuckDB keeps ns — raw ts can never hash-match).
``events.value`` is 2-decimal exact, so decimal-cast sums apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from reshape_on_flink_spark.queries.numeric import dec, dsum
from reshape_on_flink_spark.session import load_tables

QUERIES = {}
ORACLES = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Tumbling window — reference TumblingEventTimeWindows.java:47 /
# SliceAssigners.java (tumbling). Spark: F.window(). Scale: the groupBy
# shuffles on (window, event_type) — window count grows with time range,
# so key cardinality is high and uniform; partial agg runs map-side.
# ---------------------------------------------------------------------------
@query(
    "q_tumble_window",
    """
    SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS ws,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY ws, event_type
    """,
)
def q_tumble_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("ws"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("ws", "event_type")
    )


# ---------------------------------------------------------------------------
# Hopping (sliding) window — reference SlidingEventTimeWindows.java:48 /
# SliceAssigners.java (hopping). Spark: F.window(size, slide) — each event
# is replicated size/slide times by Expand, same as Flink's slice sharing.
# ---------------------------------------------------------------------------
@query(
    "q_hop_window",
    """
    SELECT ws, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (
      SELECT CAST((FLOOR(epoch(ts) / 300) - k) * 300 AS BIGINT) AS ws, value
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
      WHERE epoch(ts) >= (FLOOR(epoch(ts) / 300) - k) * 300
        AND epoch(ts) <  (FLOOR(epoch(ts) / 300) - k) * 300 + 600
    )
    GROUP BY ws
    ORDER BY ws
    """,
)
def q_hop_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(F.unix_timestamp("w.start").alias("ws"), "n", "sum_value")
        .orderBy("ws")
    )


# ---------------------------------------------------------------------------
# Session window — reference EventTimeSessionWindows.java:46 (gap merge).
# Spark: F.session_window in batch; DuckDB oracle is the classic
# gaps-and-islands rewrite (lag + running flag sum), which is also exactly
# how the reference's merging window assigner behaves.
# ---------------------------------------------------------------------------
@query(
    "q_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 300
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(FLOOR(MIN(epoch(ts))) AS BIGINT) AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.floor(F.unix_micros("w.start") / 1_000_000).cast("bigint").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# CUMULATE window — reference SliceAssigners.java:93 (cumulative) — a
# Flink-specific TVF window Spark lacks (SURVEY.md §4.3). Engine impl:
# operators/windows.py cumulate() — expand each event into every growing
# slice of its max-window via explode, then one groupBy. One shuffle,
# expansion factor = max/step (here 4), identical to Flink's slice count.
# ---------------------------------------------------------------------------
@query(
    "q_cumulate_window",
    """
    SELECT ws, we, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (
      SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT)            AS ws,
             CAST(FLOOR(epoch(ts) / 3600) * 3600 + k * 900 AS BIGINT)  AS we,
             value, epoch(ts) AS es
      FROM events CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS k)
      WHERE epoch(ts) < FLOOR(epoch(ts) / 3600) * 3600 + k * 900
    )
    GROUP BY ws, we
    ORDER BY ws, we
    """,
)
def q_cumulate_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.operators.windows import cumulate

    ev = load_tables(spark, sf_dir)["events"]
    return (
        cumulate(ev, "ts", max_size="1 hour", step="15 minutes")
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.col("window_start").alias("ws"),
            F.col("window_end").alias("we"),
            "n",
            "sum_value",
        )
        .orderBy("ws", "we")
    )


# ---------------------------------------------------------------------------
# Interval join — reference StreamExecIntervalJoin.java:67 /
# TimeIntervalJoin.java:51: l.ts < r.ts <= l.ts + bound on the same key.
# Batch formulation here; the streaming engine runs the same predicate as
# a watermarked stream-stream join (streaming/joins.py). Scale: the Spark
# impl equi-joins on (user_id) and filters the time band — at 100 TB the
# operators/joins.interval_join variant adds coarse time-bucket keys so
# the join key space is (user, bucket), bounding per-task fan-in.
# ---------------------------------------------------------------------------
@query(
    "q_interval_join",
    """
    SELECT v.user_id, COUNT(*) AS n_pairs
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND v.ts < p.ts
     AND epoch(p.ts) <= epoch(v.ts) + 600
    GROUP BY v.user_id
    ORDER BY v.user_id
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    v = ev.where(F.col("event_type") == "view").select("user_id", "ts")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("ts") < F.col("p_ts"))
            & (F.unix_micros("p_ts") <= F.unix_micros("ts") + 600 * 1_000_000),
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# As-of (temporal) join — reference TemporalRowTimeJoinOperator.java:78:
# each row joins the latest left version at or before its time. Spark has
# no native as-of join; engine impl = union-free window formulation:
# order events per key by time, carry the last 'view' forward, emit at
# 'purchase' rows. One shuffle + one sort per key — same cost shape as a
# window agg, no O(n²) join. (operators/joins.py asof_join generalizes.)
# ---------------------------------------------------------------------------
@query(
    "q_asof_join",
    """
    SELECT user_id, event_id AS purchase_id, last_view_id
    FROM (
      SELECT user_id, event_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_id
      FROM events
    )
    WHERE event_type = 'purchase'
    ORDER BY user_id, purchase_id
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_id = F.when(F.col("event_type") == "view", F.col("event_id"))
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.last(view_id, ignorenulls=True).over(w).alias("last_view_id"),
        )
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("purchase_id"), "last_view_id")
        .orderBy("user_id", "purchase_id")
    )


# ---------------------------------------------------------------------------
# Stream-static (lookup) join — reference CommonExecLookupJoin.java: per
# record lookup into a dimension table. Spark: broadcast the dim.
# ---------------------------------------------------------------------------
@query(
    "q_stream_static_join",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("user_id"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Windowed Top-N — reference StreamExecWindowRank.java /
# WindowRankProcessor.java: rank within each closed window.
# ---------------------------------------------------------------------------
@query(
    "q_window_topn",
    """
    SELECT ws, user_id, n, rn
    FROM (
      SELECT ws, user_id, n,
             ROW_NUMBER() OVER (PARTITION BY ws ORDER BY n DESC, user_id) AS rn
      FROM (
        SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws,
               user_id, COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
      )
    )
    WHERE rn <= 3
    ORDER BY ws, rn
    """,
)
def q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    per_user = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(F.unix_timestamp("w.start").alias("ws"), "user_id", "n")
    )
    w = W.partitionBy("ws").orderBy(F.desc("n"), F.asc("user_id"))
    return (
        per_user.select("ws", "user_id", "n", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .orderBy("ws", "rn")
    )


# ---------------------------------------------------------------------------
# JSON scalar extraction on the stream payload — reference JSON_* /
# STR_TO_MAP function family applied to `props`.
# ---------------------------------------------------------------------------
@query(
    "q_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Flink-SQL dialect facade end-to-end: the reference's own TVF syntax
# (TableEnvironmentImpl.executeSql + TUMBLE TVF) run through
# api.table_env.TableEnvironment against the oracle. Proves a reference
# user's SQL text executes unchanged on this engine.
# ---------------------------------------------------------------------------
@query(
    "q_flink_sql_dialect",
    """
    SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(SUM(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_interact
    FROM events
    GROUP BY 1 ORDER BY ws
    """,
)
def q_flink_sql_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.api.table_env import TableEnvironment

    tenv = TableEnvironment.create(spark)
    tenv.create_temporary_view("events", load_tables(spark, sf_dir)["events"])
    # Flink 1.13 SQL, verbatim: window TVF + a dialect scalar function.
    return tenv.execute_sql(
        """
        SELECT CAST(UNIX_TIMESTAMP(CAST(window_start AS STRING)) AS BIGINT) AS ws,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
               CAST(SUM(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_interact
        FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start ORDER BY ws
        """
    )


# ---------------------------------------------------------------------------
# SQL statement surface (DDL/DQL) end-to-end: CREATE DATABASE / USE /
# SHOW CURRENT DATABASE / CREATE TABLE WITH / INSERT / SHOW TABLES /
# ALTER TABLE ADD + RENAME TO / DESCRIBE / EXPLAIN PLAN FOR / CREATE +
# DROP VIEW — the reference's flink-sql-parser ddl/ (33 classes) + dql/
# (15 classes) exercised in one session through the dialect facade
# (api.table_env._rewrite_statements). Every statement's effect is
# asserted in-callable (loud gate failure), and the final SELECT reads
# the data back through the catalog so the oracle hash covers the whole
# roundtrip. Scale: pure catalog metadata ops + one small INSERT — no
# data-plane divergence from the plain scan.
# ---------------------------------------------------------------------------
@query(
    "q_dialect_catalog_roundtrip",
    """
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
)
def q_dialect_catalog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from reshape_on_flink_spark.api.table_env import TableEnvironment

    tenv = TableEnvironment.create(spark)
    tenv.create_temporary_view("nation_src", load_tables(spark, sf_dir)["nation"])
    prev_db = spark.catalog.currentDatabase()
    loc = tempfile.mkdtemp(prefix="dialect_nation_")
    try:
        tenv.execute_sql(f"CREATE DATABASE IF NOT EXISTS dialect_db LOCATION '{loc}_db'")
        tenv.execute_sql("USE dialect_db")
        cur = tenv.execute_sql("SHOW CURRENT DATABASE").collect()
        assert cur[0][0] == "dialect_db", cur
        tenv.execute_sql("DROP TABLE IF EXISTS dialect_nation")
        tenv.execute_sql("DROP TABLE IF EXISTS dialect_nation_v2")
        tenv.execute_sql(
            "CREATE TABLE dialect_nation ("
            "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT) "
            f"WITH ('connector'='filesystem', 'path'='{loc}', 'format'='parquet')"
        )
        tenv.execute_sql(
            "INSERT INTO dialect_nation "
            "SELECT n_nationkey, n_name, n_regionkey FROM nation_src"
        )
        shown = {r[1] for r in tenv.execute_sql("SHOW TABLES").collect()}
        assert "dialect_nation" in shown, shown
        tenv.execute_sql("ALTER TABLE dialect_nation ADD (n_note STRING)")
        tenv.execute_sql("ALTER TABLE dialect_nation RENAME TO dialect_nation_v2")
        desc_cols = {r[0] for r in tenv.execute_sql("DESCRIBE dialect_nation_v2").collect()}
        assert {"n_nationkey", "n_name", "n_regionkey", "n_note"} <= desc_cols, desc_cols
        plan = tenv.execute_sql(
            "EXPLAIN PLAN FOR SELECT n_name FROM dialect_nation_v2 WHERE n_regionkey = 0"
        ).collect()
        assert plan and "n_regionkey" in plan[0][0], plan
        tenv.execute_sql(
            "CREATE TEMPORARY VIEW dialect_scratch AS SELECT 1 AS one"
        )
        tenv.execute_sql("DROP TEMPORARY VIEW dialect_scratch")
        return tenv.execute_sql(
            "SELECT n_nationkey, n_name, n_regionkey "
            "FROM dialect_db.dialect_nation_v2 ORDER BY n_nationkey"
        )
    finally:
        spark.catalog.setCurrentDatabase(prev_db)


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE (CEP) — reference StreamExecMatch.java:90 / flink-cep
# NFA (CepOperator.java:81). V-shape detection per user: value strictly
# falls (DOWN+) then strictly rises (UP+); AFTER MATCH SKIP PAST LAST ROW.
# The oracle expresses the same greedy semantics relationally
# (gaps-and-islands: maximal D-runs adjacent to U-runs) — valid because a
# DOWN+ UP+ match is exactly a maximal down-run immediately followed by
# an up-run.
# ---------------------------------------------------------------------------
@query(
    "q_match_recognize",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN value < lag(value) OVER w THEN 'DOWN'
                  WHEN value > lag(value) OVER w THEN 'UP'
                  ELSE 'X' END AS st,
             ROW_NUMBER() OVER w AS rn
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, st, MIN(rn) AS rn_start, MAX(rn) AS rn_end, COUNT(*) AS len
      FROM (SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id, st ORDER BY rn) AS grp
            FROM flagged)
      GROUP BY user_id, st, grp
    ),
    matches AS (
      SELECT d.user_id, d.len AS n_down, u.len AS n_up
      FROM runs d JOIN runs u
        ON d.user_id = u.user_id AND u.rn_start = d.rn_end + 1
      WHERE d.st = 'DOWN' AND u.st = 'UP'
    )
    SELECT user_id, COUNT(*) AS n_matches,
           CAST(SUM(n_down + n_up) AS BIGINT) AS n_rows,
           CAST(MAX(n_down) AS BIGINT) AS max_down,
           CAST(MAX(n_up) AS BIGINT) AS max_up
    FROM matches GROUP BY user_id ORDER BY user_id
    """,
)
def q_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.operators.cep import match_recognize

    ev = load_tables(spark, sf_dir)["events"].select("user_id", "ts", "event_id", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_v = F.lag("value").over(w)
    matched = match_recognize(
        ev,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        pattern="DOWN+ UP+",
        define={"DOWN": F.col("value") < prev_v, "UP": F.col("value") > prev_v},
    )
    down = F.when(F.col("matched_symbol") == "DOWN", 1).otherwise(0)
    up = F.when(F.col("matched_symbol") == "UP", 1).otherwise(0)
    per_match = matched.groupBy("user_id", "match_id").agg(
        F.sum(down).alias("n_down"), F.sum(up).alias("n_up")
    )
    return (
        per_match.groupBy("user_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.sum(F.col("n_down") + F.col("n_up")).alias("n_rows"),
            F.max("n_down").alias("max_down"),
            F.max("n_up").alias("max_up"),
        )
        .orderBy("user_id")
    )


# Same V-shape query issued as Flink SQL *text* through the dialect
# facade (api.table_env parses the MATCH_RECOGNIZE clause and routes it
# through the cep operator); shares q_match_recognize's relational
# oracle verbatim, so the SQL path is held to the same hash gate.
@query("q_match_recognize_sql")
def q_match_recognize_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.api.table_env import TableEnvironment

    tenv = TableEnvironment.create(spark)
    tenv.create_temporary_view("events", load_tables(spark, sf_dir)["events"])
    return tenv.execute_sql(
        """
        SELECT user_id, COUNT(*) AS n_matches,
               CAST(SUM(n_down + n_up) AS BIGINT) AS n_rows,
               CAST(MAX(n_down) AS BIGINT) AS max_down,
               CAST(MAX(n_up) AS BIGINT) AS max_up
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES COUNT(DOWN.*) AS n_down, COUNT(UP.*) AS n_up
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
                 UP AS UP.value > PREV(UP.value)
        ) AS m
        GROUP BY user_id ORDER BY user_id
        """
    )


ORACLES["q_match_recognize_sql"] = ORACLES["q_match_recognize"]


# PATTERN ... WITHIN through the SQL route. The (V P) adjacency pattern
# is chosen because its matches cannot overlap (a row cannot be both a
# match's V and the previous match's P — the classes are disjoint), so
# the greedy NFA semantics reduce exactly to a lead() pair filter and
# the time bound is relationally expressible with strict <
# (Flink/our WITHIN times out partials at >= the window).
@query(
    "q_match_recognize_within",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lead(event_type) OVER w AS nt,
             lead(ts) OVER w AS nts
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, COUNT(*) AS n_matches
    FROM seq
    WHERE event_type = 'view' AND nt = 'purchase'
      AND nts < ts + INTERVAL 4 HOUR
    GROUP BY user_id ORDER BY user_id
    """,
)
def q_match_recognize_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.api.table_env import TableEnvironment

    tenv = TableEnvironment.create(spark)
    tenv.create_temporary_view("events", load_tables(spark, sf_dir)["events"])
    return tenv.execute_sql(
        """
        SELECT user_id, COUNT(*) AS n_matches
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES COUNT(V.*) AS n_v
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (V P) WITHIN INTERVAL '4' HOUR
          DEFINE V AS V.event_type = 'view',
                 P AS P.event_type = 'purchase'
        ) AS m
        GROUP BY user_id ORDER BY user_id
        """
    )


# ---------------------------------------------------------------------------
# Fluent CEP Pattern API (api.cep — flink-cep Pattern.java/CEP.java):
# begin("v").where(view).followed_by("p").where(purchase) with relaxed
# contiguity, per user, AFTER MATCH SKIP PAST LAST ROW. The oracle is
# exact via a tiling equivalence: scanning greedily, a purchase row is
# matched iff at least one view lies strictly between the immediately
# preceding purchase (any, matched or not) and it — an unmatched
# purchase provably has no views since the previous matched one, so the
# "previous ANY purchase" marker is the correct relational resume
# point. The matched view is then the first view after that marker.
# ---------------------------------------------------------------------------
@query(
    "q_cep_fluent",
    """
    WITH seq AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER w AS rn,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS views_before
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    purch AS (
      SELECT user_id, rn, value,
             COALESCE(views_before, 0) AS vb,
             COALESCE(LAG(COALESCE(views_before, 0))
               OVER (PARTITION BY user_id ORDER BY rn), 0) AS prev_vb,
             COALESCE(LAG(rn) OVER (PARTITION BY user_id ORDER BY rn), 0)
               AS prev_prn
      FROM seq WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT m.user_id, m.rn, m.value AS p_value,
             (SELECT MIN(v.rn) FROM seq v
              WHERE v.user_id = m.user_id AND v.event_type = 'view'
                AND v.rn > m.prev_prn) AS vrn
      FROM purch m WHERE m.vb > m.prev_vb
    )
    SELECT t.user_id, COUNT(*) AS n_matches,
           CAST(SUM(CAST(t.p_value AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_purchase_value,
           CAST(SUM(CAST(v.value AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_view_value,
           CAST(SUM(t.rn - t.vrn - 1) AS BIGINT) AS rows_skipped
    FROM matched t
    JOIN seq v ON v.user_id = t.user_id AND v.rn = t.vrn
    GROUP BY t.user_id ORDER BY t.user_id
    """,
)
def q_cep_fluent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.api.cep import CEP, Pattern, sym

    ev = (
        load_tables(spark, sf_dir)["events"]
        .select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn(
            "__rn",
            F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id")),
        )
    )
    pat = (
        Pattern.begin("v").where(F.col("event_type") == "view")
        .followed_by("p").where(F.col("event_type") == "purchase")
    )
    per_match = CEP.pattern(ev, pat, "user_id", ["ts", "event_id"]).select(
        p_value=F.sum(dec(sym("p", "value"))),
        v_value=F.sum(dec(sym("v", "value"))),
        # rows the relaxed gap skipped = span minus the two matched rows;
        # recovered from per-partition positions of the two matched rows
        span=F.max(sym("p", "__rn")) - F.min(sym("v", "__rn")) - F.lit(1),
    )
    return (
        per_match.groupBy("user_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.sum("p_value").cast("double").alias("sum_purchase_value"),
            F.sum("v_value").cast("double").alias("sum_view_value"),
            F.sum("span").alias("rows_skipped"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Fluent CEP with a RELAXED looping stage under noSkip emission — the
# round-7/8 looping rewrite end-to-end (api.cep compile(emit='all') ->
# _ast_enumerator): view, click+ (relaxed inner contiguity,
# Quantifier.java SKIP_TILL_NEXT), purchase, WITHIN 4h, per user.
#
# Exact relational oracle: under noSkip every view V starts matches;
# the relaxed loop's j-th expansion takes the first j clicks after V
# (the '__lgap' filler may skip anything BUT a click, including
# purchases), and the trailing relaxed gap commits to the FIRST
# purchase after click j. The WITHIN horizon (strictly <, matching the
# engine's searchsorted 'left' clamp) makes expansion j valid iff that
# purchase's sec < V.sec + 259200 — monotone in j, so valid expansions
# are a prefix 1..m and the per-view match count is m, total loop rows
# m(m+1)/2. Order column is integer epoch-seconds (+ event_id
# tie-break): both engines floor identically, immune to the ns-vs-µs
# parquet encoding split.
# ---------------------------------------------------------------------------
@query(
    "q_cep_relaxed_loop",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                         event_id) AS rn
      FROM events
    ),
    ann AS (
      SELECT *,
             MIN(CASE WHEN event_type = 'purchase' THEN rn END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
             ) AS fp_rn
      FROM seq
    ),
    clk AS (
      SELECT a.user_id, a.rn, p.sec AS fp_sec
      FROM ann a JOIN seq p ON p.user_id = a.user_id AND p.rn = a.fp_rn
      WHERE a.event_type = 'click'
    ),
    per_view AS (
      SELECT v.user_id, v.rn AS v_rn, COUNT(*) AS m
      FROM seq v
      JOIN clk c ON c.user_id = v.user_id AND c.rn > v.rn
      WHERE v.event_type = 'view' AND c.fp_sec < v.sec + 259200
      GROUP BY v.user_id, v.rn
    )
    SELECT user_id,
           CAST(SUM(m) AS BIGINT) AS n_matches,
           CAST(SUM((m * (m + 1)) // 2) AS BIGINT) AS loop_rows
    FROM per_view
    GROUP BY user_id ORDER BY user_id
    """,
)
def q_cep_relaxed_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.api.cep import CEP, Pattern

    ev = (
        load_tables(spark, sf_dir)["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("sec", F.col("ts").cast("long"))
    )
    pat = (
        Pattern.begin("s").where(F.col("event_type") == "view")
        .followed_by("a").where(F.col("event_type") == "click").one_or_more()
        .followed_by("e").where(F.col("event_type") == "purchase")
        .within(259200)  # 3 days; numeric order column: raw delta, strict <
    )
    rows = CEP.pattern(
        ev, pat, "user_id", ["sec", "event_id"], after_match="no_skip"
    ).flat_select()
    per_match = rows.groupBy("user_id", "match_id").agg(
        F.sum(F.when(F.col("matched_symbol") == "a", 1).otherwise(0)).alias(
            "loop_len"
        )
    )
    return (
        per_match.groupBy("user_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.sum("loop_len").cast("bigint").alias("loop_rows"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# followedByAny under noSkip (round-8 fluent surface: SKIP_TILL_ANY
# stage contiguity, Pattern.java:322): signup followedByAny purchase
# WITHIN 3 days — the gap may skip MATCHING events, so EVERY purchase
# inside the window yields its own match, which is exactly the
# (signup x purchase) interval pair join: an exact relational oracle.
# Contrast: plain followed_by would emit only the FIRST purchase.
# Order column is integer epoch-seconds (ns-vs-us-proof).
# ---------------------------------------------------------------------------
@query(
    "q_cep_followed_by_any",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                         event_id) AS rn
      FROM events
    ),
    pairs AS (
      SELECT s.user_id, s.rn AS s_rn
      FROM seq s
      JOIN seq p ON p.user_id = s.user_id AND p.rn > s.rn
      WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
        AND p.sec < s.sec + 259200
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(COUNT(DISTINCT s_rn) AS BIGINT) AS n_signups
    FROM pairs
    GROUP BY user_id ORDER BY user_id
    """,
)
def q_cep_followed_by_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.api.cep import CEP, Pattern, sym

    ev = (
        load_tables(spark, sf_dir)["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("sec", F.col("ts").cast("long"))
    )
    pat = (
        Pattern.begin("s").where(F.col("event_type") == "signup")
        .followed_by_any("p").where(F.col("event_type") == "purchase")
        .within(259200)
    )
    rows = CEP.pattern(
        ev, pat, "user_id", ["sec", "event_id"], after_match="no_skip"
    ).flat_select()
    per_match = rows.groupBy("user_id", "match_id").agg(
        F.min(F.when(F.col("matched_symbol") == "s", F.col("sec"))).alias("s_sec"),
        F.min(F.when(F.col("matched_symbol") == "s", F.col("event_id"))).alias(
            "s_eid"
        ),
    )
    return (
        per_match.groupBy("user_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.countDistinct("s_sec", "s_eid").cast("bigint").alias("n_signups"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Nested-group MATCH_RECOGNIZE: (V C)+ P — view/click pairs repeating as
# a *unit*, closed by a purchase (the pattern shape Flink's NFA handles
# via group states; our generic AST matcher). The relational oracle is
# exact because the group's body (v,c) can never contain a P row: a
# greedy (V C)+ always consumes a full maximal island of consecutive
# view->click pairs (positions stepping by 2), and a match exists iff
# the row after the island's last pair is a purchase. Backtracking to
# fewer pairs can never succeed (it would land P on a v/c row), so
# matches == islands adjacent to a purchase.
# ---------------------------------------------------------------------------
@query(
    "q_match_recognize_nested",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    pairs AS (
      SELECT s.user_id, s.rn
      FROM seq s JOIN seq n ON n.user_id = s.user_id AND n.rn = s.rn + 1
      WHERE s.event_type = 'view' AND n.event_type = 'click'
    ),
    islands AS (
      SELECT user_id, rn,
             rn - 2 * ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM pairs
    ),
    chains AS (
      SELECT user_id, grp, MAX(rn) + 1 AS last_c_rn, COUNT(*) AS n_pairs
      FROM islands GROUP BY user_id, grp
    ),
    matches AS (
      SELECT c.user_id, c.n_pairs
      FROM chains c
      JOIN seq p ON p.user_id = c.user_id AND p.rn = c.last_c_rn + 1
      WHERE p.event_type = 'purchase'
    )
    SELECT user_id, COUNT(*) AS n_matches,
           CAST(SUM(2 * n_pairs + 1) AS BIGINT) AS n_rows,
           CAST(MAX(n_pairs) AS BIGINT) AS max_pairs
    FROM matches GROUP BY user_id ORDER BY user_id
    """,
)
def q_match_recognize_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.operators.cep import match_recognize

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_id", "event_type"
    )
    matched = match_recognize(
        ev,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        pattern="(V C)+ P",
        define={
            "V": F.col("event_type") == "view",
            "C": F.col("event_type") == "click",
            "P": F.col("event_type") == "purchase",
        },
    )
    pair_flag = F.when(F.col("matched_symbol") == "V", 1).otherwise(0)
    per_match = matched.groupBy("user_id", "match_id").agg(
        F.sum(pair_flag).alias("n_pairs"), F.count("*").alias("n_rows_m")
    )
    return (
        per_match.groupBy("user_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.sum("n_rows_m").alias("n_rows"),
            F.max("n_pairs").alias("max_pairs"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Window join — reference DataStream.join/coGroup
# (DataStream.java:721-729, JoinedStreams/CoGroupedStreams): equi-join
# constrained to the same tumbling window. Spark-first: add the window
# column to both sides, join on (window, key) — the window becomes part
# of the shuffle key, so state never crosses window boundaries (the same
# trick Flink's window join plays with its window operator).
# Scale: both sides shuffle once on (window, user); window key spreads
# hot users across time, a free skew reducer.
# ---------------------------------------------------------------------------
@query(
    "q_window_join",
    """
    SELECT v.user_id, CAST(FLOOR(epoch(v.ts) / 3600) * 3600 AS BIGINT) AS ws,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND FLOOR(epoch(v.ts) / 3600) = FLOOR(epoch(p.ts) / 3600)
    GROUP BY v.user_id, ws
    ORDER BY v.user_id, ws
    """,
)
def q_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    v = (
        ev.where(F.col("event_type") == "view")
        .select("user_id", F.window("ts", "1 hour").alias("w"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.window("ts", "1 hour").alias("pw"),
            "value",
        )
    )
    return (
        v.join(p, (F.col("user_id") == F.col("p_user")) & (F.col("w") == F.col("pw")))
        .groupBy("user_id", F.unix_timestamp("w.start").alias("ws"))
        .agg(
            F.count("*").alias("n_pairs"),
            dsum("value").alias("purchase_value"),
        )
        .orderBy("user_id", "ws")
    )


# ---------------------------------------------------------------------------
# Dynamic-gap session windows — reference
# DynamicEventTimeSessionWindows.java (SessionWindowTimeGapExtractor):
# the inactivity gap is computed per event. Spark session_window accepts
# a Column gap (3.2+). The oracle replays Spark's merge rule
# relationally: window [t, t+gap) starts a new session iff t >= running
# max of previous (t+gap) — gaps-and-islands with a cumulative max.
# ---------------------------------------------------------------------------
@query(
    "q_session_window_dynamic_gap",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, value,
             CASE WHEN event_type = 'view' THEN 600 ELSE 1800 END * 1000000 AS gap_us
      FROM events
    ),
    marked AS (
      SELECT *, CASE WHEN MAX(t_us + gap_us) OVER w_prev IS NULL
                       OR t_us >= MAX(t_us + gap_us) OVER w_prev
                     THEN 1 ELSE 0 END AS new_session
      FROM e
      WINDOW w_prev AS (PARTITION BY user_id ORDER BY t_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    sessions AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY t_us
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
      FROM marked
    )
    SELECT user_id, MIN(t_us) AS session_start_us,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_start_us
    """,
)
def q_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    gap = F.when(F.col("event_type") == "view", "10 minutes").otherwise("30 minutes")
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            "n",
            "sum_value",
        )
        .orderBy("user_id", "session_start_us")
    )


# ---------------------------------------------------------------------------
# Funnel conversion: ordered step analysis (view -> click -> purchase)
# ---------------------------------------------------------------------------
@query(
    "q_funnel_conversion",
    """
    WITH s1 AS (SELECT user_id, MIN(epoch_us(ts)) AS t1
                FROM events WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
           FROM events e JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
           FROM events e JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
           GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM s1) AS n_view,
           (SELECT COUNT(*) FROM s2) AS n_click_after_view,
           (SELECT COUNT(*) FROM s3) AS n_purchase_after_click,
           round(CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
                 / (SELECT COUNT(*) FROM s1), 6) AS conversion
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): each step keeps users
    whose step event strictly FOLLOWS their previous step's first time —
    the product-analytics conversion query. Scale: one agg per step on
    user_id; each join's right side is the already-reduced previous step
    (monotonically shrinking, AQE broadcasts it), so the events scan
    streams through three filters without ever re-shuffling the fact."""
    ev = load_tables(spark, sf_dir)["events"]
    us = F.unix_micros("ts")

    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(us > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min(us).alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(us > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min(us).alias("t3"))
    )
    c1 = s1.agg(F.count("*").alias("n_view"))
    c2 = s2.agg(F.count("*").alias("n_click_after_view"))
    c3 = s3.agg(F.count("*").alias("n_purchase_after_click"))
    return (
        c1.crossJoin(c2)
        .crossJoin(c3)
        .select(
            "n_view",
            "n_click_after_view",
            "n_purchase_after_click",
            F.round(
                F.col("n_purchase_after_click").cast("double") / F.col("n_view"), 6
            ).alias("conversion"),
        )
    )


# ---------------------------------------------------------------------------
# Count windows (GlobalWindows + CountTrigger.of(n)) in batch form —
# operators/windows.count_tumble; the streaming form
# (streaming/triggers.count_window_agg) is pinned equal in pytest.
# ---------------------------------------------------------------------------
@query(
    "q_count_window",
    """
    WITH seq AS (
      SELECT user_id, value,
             CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY user_id
                                            ORDER BY event_id) - 1) / 5)
                  AS BIGINT) AS window_seq
      FROM events)
    SELECT user_id, window_seq, COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM seq GROUP BY user_id, window_seq
    HAVING COUNT(*) = 5
    ORDER BY user_id, window_seq
    """,
)
def q_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.operators.windows import count_tumble

    ev = load_tables(spark, sf_dir)["events"]
    out = count_tumble(ev, n=5, key_col="user_id", value_col=dec("value"))
    return out.withColumn("sum_value", F.col("sum_value").cast("double")).orderBy(
        "user_id", "window_seq"
    )


# ---------------------------------------------------------------------------
# CountEvictor.of(3): keep only the last 3 events per user before the
# aggregate (streaming/triggers.count_evictor, relational form).
# ---------------------------------------------------------------------------
@query(
    "q_count_evictor",
    """
    WITH kept AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events)
    SELECT user_id, COUNT(*) AS n_kept,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_last3
    FROM kept WHERE rn <= 3
    GROUP BY user_id ORDER BY user_id
    """,
)
def q_count_evictor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.streaming.triggers import count_evictor

    ev = load_tables(spark, sf_dir)["events"]
    kept = count_evictor(ev, ["user_id"], ["event_id"], keep_last_n=3)
    return (
        kept.groupBy("user_id")
        .agg(
            F.count("*").alias("n_kept"),
            dsum("value").alias("sum_last3"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Salted (skew-resistant) join — operators/joins.salted_join. Salting is
# a pure execution strategy: results must equal the plain join, which is
# exactly what the oracle states.
# ---------------------------------------------------------------------------
@query(
    "q_salted_join",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.operators.joins import salted_join

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select(F.col("l_orderkey").alias("k"), "l_quantity")
    o = t["orders"].select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    joined = salted_join(li, o, key="k", n_salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Match-scoped aggregate in DEFINE (round 9): PATTERN (A+ B), DEFINE A
# AS SUM(A.amt) < 20000 — Flink's IterativeCondition surface
# (match_recognize.md "Aggregations"; IterativeCondition.java): A
# accumulates rows while the RUNNING sum (incl. the candidate row)
# stays under the cap, B is undefined (= TRUE, the docs' example
# shape), AFTER MATCH SKIP PAST LAST ROW tiles the partition. Amounts
# are integer cents so both engines sum exactly.
#
# Exact oracle: the scan is a sequential cap-sum segmentation — per
# start s the first failing row f has cum(f)-cum(s-1) >= cap; a match
# is A=[s,f-1], B=f (greedy A+ backtracks one row for B when the
# partition ends before any failure). A recursive CTE walks the
# per-user chain over a precomputed step table (f via a prefix-sum
# join; per-user row counts are bounded, so the join is tiny).
# ---------------------------------------------------------------------------
@query(
    "q_cep_iterative_sum",
    """
    WITH RECURSIVE seq AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                         event_id) AS rn,
             CAST(FLOOR(value * 100) AS BIGINT) AS amt
      FROM events
    ),
    cums AS (
      SELECT user_id, rn, amt,
             SUM(amt) OVER (PARTITION BY user_id ORDER BY rn) AS cum
      FROM seq
    ),
    nrows AS (SELECT user_id, MAX(rn) AS n FROM cums GROUP BY user_id),
    firstfail AS (
      SELECT s.user_id, s.rn AS s_rn, MIN(c.rn) AS f
      FROM cums s
      JOIN cums c ON c.user_id = s.user_id AND c.rn >= s.rn
                 AND c.cum - (s.cum - s.amt) >= 20000
      GROUP BY s.user_id, s.rn
    ),
    step AS (
      SELECT q.user_id, q.rn AS s,
             CASE WHEN ff.f IS NULL
                  THEN CASE WHEN nr.n - q.rn >= 1 THEN nr.n - q.rn END
                  WHEN ff.f > q.rn THEN ff.f - q.rn
             END AS a_len,
             CASE WHEN ff.f IS NULL
                  THEN CASE WHEN nr.n - q.rn >= 1
                            THEN cn1.cum - (q.cum - q.amt) END
                  WHEN ff.f > q.rn THEN cf1.cum - (q.cum - q.amt)
             END AS a_sum,
             CASE WHEN ff.f IS NULL
                  THEN CASE WHEN nr.n - q.rn >= 1 THEN nr.n + 1 ELSE q.rn + 1 END
                  WHEN ff.f > q.rn THEN ff.f + 1
                  ELSE q.rn + 1
             END AS nxt
      FROM cums q
      JOIN nrows nr ON nr.user_id = q.user_id
      LEFT JOIN firstfail ff ON ff.user_id = q.user_id AND ff.s_rn = q.rn
      LEFT JOIN cums cn1 ON cn1.user_id = q.user_id AND cn1.rn = nr.n - 1
      LEFT JOIN cums cf1 ON cf1.user_id = q.user_id AND cf1.rn = ff.f - 1
    ),
    walk(user_id, s, a_len, a_sum) AS (
      SELECT user_id, CAST(1 AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT)
      FROM nrows
      UNION ALL
      SELECT st.user_id, st.nxt, st.a_len, st.a_sum
      FROM walk w JOIN step st ON st.user_id = w.user_id AND st.s = w.s
    )
    SELECT user_id,
           CAST(COUNT(a_len) AS BIGINT) AS n_matches,
           CAST(SUM(a_len) AS BIGINT) AS a_rows,
           CAST(SUM(a_sum) AS BIGINT) AS a_amt
    FROM walk
    GROUP BY user_id
    HAVING COUNT(a_len) > 0
    ORDER BY user_id
    """,
)
def q_cep_iterative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.api.table_env import TableEnvironment

    t_env = TableEnvironment.create(spark)
    ev = (
        load_tables(spark, sf_dir)["events"]
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("long").alias("sec"),
            F.floor(F.col("value") * 100).cast("long").alias("amt"),
        )
    )
    ev.createOrReplaceTempView("__iter_sum_src")
    per_match = t_env.execute_sql(
        """
        SELECT * FROM __iter_sum_src
            MATCH_RECOGNIZE (
                PARTITION BY user_id
                ORDER BY sec, event_id
                MEASURES COUNT(A.amt) AS a_len, SUM(A.amt) AS a_sum
                ONE ROW PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A+ B)
                DEFINE A AS SUM(A.amt) < 20000
            ) MR
        """
    )
    return (
        per_match.groupBy("user_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.sum("a_len").cast("bigint").alias("a_rows"),
            F.sum("a_sum").cast("bigint").alias("a_amt"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Retract stream (round 9): the ACTUAL streaming operator under the
# hash gate. streaming/changelog.to_retract_stream with per-ROW
# granularity replays the events table as a 3-chunk stream and emits
# Flink's GroupAggFunction changelog (+I, then -U/+U per input row);
# with a deterministic processing order the FULL emission history is
# closed-form: per user the i-th row's transition retracts the (i-1)-th
# running aggregate and asserts the i-th — exactly LAG over running
# windows, which is the oracle. Chunking cannot change the history
# (state carries across micro-batches; order_by pins within-batch
# order), so the gate pins crash-consistent streaming semantics with a
# pure-SQL reference.
# ---------------------------------------------------------------------------
@query(
    "q_retract_transitions",
    """
    WITH seq AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                         event_id) AS rn,
             CAST(FLOOR(value * 100) AS BIGINT) AS amt
      FROM events
    ),
    run AS (
      SELECT user_id, rn,
             COUNT(*) OVER w AS cnt,
             SUM(amt) OVER w AS s
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    steps AS (
      SELECT user_id, rn, cnt, s,
             LAG(cnt) OVER w2 AS pcnt, LAG(s) OVER w2 AS ps
      FROM run
      WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
    ),
    changes AS (
      SELECT user_id,
             CASE WHEN rn = 1 THEN '+I' ELSE '+U' END AS _change_type,
             cnt, s,
             CAST(CASE WHEN rn = 1 THEN 0 ELSE (rn - 2) * 2 + 2 END AS BIGINT)
               AS _change_seq
      FROM steps
      UNION ALL
      SELECT user_id, '-U', pcnt, ps, CAST((rn - 2) * 2 + 1 AS BIGINT)
      FROM steps WHERE rn > 1
    )
    SELECT user_id, _change_seq, _change_type,
           CAST(cnt AS BIGINT) AS cnt, CAST(s AS BIGINT) AS amt_sum
    FROM changes
    ORDER BY user_id, _change_seq
    """,
)
def q_retract_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    from reshape_on_flink_spark.streaming.changelog import to_retract_stream
    from reshape_on_flink_spark.streaming.source import chunked_replay

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("sec"),
        F.floor(F.col("value") * 100).cast("long").alias("amt"),
    )
    # per-key processing order (rn) + a GLOBAL replay order consistent
    # with it, so chunk boundaries can never reorder a key's rows
    w_key = W.partitionBy("user_id").orderBy("sec", "event_id")
    seq = (
        ev.withColumn("rn", F.row_number().over(w_key))
        # test-harness global sort: the replay chunker needs one global
        # monotone column; production streams are already time-ordered
        .withColumn("gseq", F.row_number().over(W.orderBy("sec", "event_id")))
    )
    base = tempfile.mkdtemp(prefix="retract_gate_")
    stream = chunked_replay(
        spark, seq, os.path.join(base, "in"), n_chunks=3, order_col="gseq"
    )
    out = to_retract_stream(
        stream,
        "user_id",
        {"cnt": ("count", None), "amt_sum": ("sum", "amt")},
        granularity="row",
        order_by="rn",
    )
    name = f"retract_gate_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import shutil

    shutil.rmtree(base, ignore_errors=True)  # memory sink owns the rows now
    return (
        spark.table(name)
        .select(
            "user_id",
            "_change_seq",
            "_change_type",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("amt_sum").cast("bigint").alias("amt_sum"),
        )
        .orderBy("user_id", "_change_seq")
    )


# ---------------------------------------------------------------------------
# CEP timed-out partial matches (round 10): PatternStream.flatSelect
# with timedOutPartialMatchesTag (flink-cep PatternStream.java:202-214;
# NFAITCase.java:405 testSimplePatternWithTimeoutHandling). Pattern
# A(signup) -fb-> B(error) -fb-> C(purchase) WITHIN 4h per user: every
# live partial branch at its horizon (first_row + within) is emitted,
# with followedBy waiters consumed by the first take-able event and
# expiry gated on a partition row at/after the horizon (event-driven
# advanceTime). Closed-form oracle: the branch set under SKIP_TILL_NEXT
# is deterministic — per A row, B = the first take-able error strictly
# inside the horizon — so survival is a per-row lookahead (first
# following error/purchase tick) + the witness gate, all window
# functions. Order axis: ord = epoch_sec * 100000 + per-user row_number
# (unique, monotone with (ts, event_id); the rn term is < 1 second so
# the 4h horizon is time-accurate). Scale: one keyed shuffle per prefix
# length + per-partition window lookaheads — no range join, no driver
# collect.
# ---------------------------------------------------------------------------
_CEP_TIMEOUT_DELTA = 14400 * 100000  # 4 hours in ord units


@query(
    "q_cep_timeout",
    f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER w0 AS rn,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000
               + ROW_NUMBER() OVER w0 AS ord
      FROM events
      WINDOW w0 AS (PARTITION BY user_id
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
    ),
    enriched AS (
      SELECT *,
             MAX(ord) OVER (PARTITION BY user_id) AS pmax,
             MIN(CASE WHEN event_type = 'error' THEN ord END)
               OVER wf AS next_b,
             MIN(CASE WHEN event_type = 'purchase' THEN ord END)
               OVER wf AS next_c
      FROM seq
      WINDOW wf AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    a_rows AS (SELECT * FROM enriched WHERE event_type = 'signup'),
    t1 AS (  -- prefix {{A}}: no take-able B strictly inside the horizon
      SELECT user_id, event_id AS a_id, CAST(NULL AS BIGINT) AS b_id,
             CAST(1 AS BIGINT) AS n_rows, ord + {_CEP_TIMEOUT_DELTA} AS tout
      FROM a_rows
      WHERE (next_b IS NULL OR next_b >= ord + {_CEP_TIMEOUT_DELTA})
        AND pmax >= ord + {_CEP_TIMEOUT_DELTA}
    ),
    ab AS (  -- branch {{A,B}}: B = first take-able error inside the horizon
      SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
             a.ord AS a_ord, b.next_c, a.pmax
      FROM a_rows a
      JOIN enriched b ON b.user_id = a.user_id AND b.ord = a.next_b
      WHERE a.next_b IS NOT NULL AND a.next_b < a.ord + {_CEP_TIMEOUT_DELTA}
    ),
    t2 AS (  -- prefix {{A,B}}: no take-able C inside the horizon
      SELECT user_id, a_id, b_id, CAST(2 AS BIGINT) AS n_rows,
             a_ord + {_CEP_TIMEOUT_DELTA} AS tout
      FROM ab
      WHERE (next_c IS NULL OR next_c >= a_ord + {_CEP_TIMEOUT_DELTA})
        AND pmax >= a_ord + {_CEP_TIMEOUT_DELTA}
    )
    SELECT user_id, a_id, b_id, n_rows, CAST(tout AS BIGINT) AS timeout_ord
    FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
    ORDER BY user_id, a_id, n_rows
    """,
)
def q_cep_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from reshape_on_flink_spark.api.cep import CEP, Pattern

    ev = load_tables(spark, sf_dir)["events"]
    w0 = W.partitionBy("user_id").orderBy("sec", "event_id")
    src = ev.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("sec")
    ).withColumn(
        "ord", F.col("sec") * 100000 + F.row_number().over(w0)
    )
    pat = (
        Pattern.begin("A").where(F.col("event_type") == "signup")
        .followed_by("B").where(F.col("event_type") == "error")
        .followed_by("C").where(F.col("event_type") == "purchase")
        .within(_CEP_TIMEOUT_DELTA)
    )
    ps = CEP.pattern(src, pat, "user_id", "ord", after_match="no_skip")
    t = ps.timed_out_partial_matches()
    return (
        t.groupBy("user_id", "timeout_id")
        .agg(
            F.min(F.when(F.col("matched_symbol") == "A", F.col("event_id"))).alias("a_id"),
            F.min(F.when(F.col("matched_symbol") == "B", F.col("event_id"))).alias("b_id"),
            F.count("*").alias("n_rows"),
            F.min("timeout_ts").cast("bigint").alias("timeout_ord"),
        )
        .select("user_id", "a_id", "b_id", "n_rows", "timeout_ord")
        .orderBy("user_id", "a_id", "n_rows")
    )


# ---------------------------------------------------------------------------
# CEP timed-out partials under an AfterMatchSkipStrategy (round 11):
# NFA.java:396-436 processMatchesAccordingToSkipStrategy — an emitted
# match silently PRUNES partial branches with start event <= pruningId
# before their horizon. Pattern A(signup) -fbAny-> B(error) -fbAny->
# C(purchase) WITHIN 2 days under SKIP_TO_NEXT (pruningId = the match's
# own start event), so pruning hits exactly the emitted start's own
# persisting fba waiters. Closed-form oracle (no recursion): to_next
# emits ONE first-completed match per start (b = first error after a,
# c = first purchase after that b, c < a+delta); completion ticks are
# monotone in start, so the emission event of start s is the first
# event at/after max(c_ord, horizons of earlier matchless starts) —
# earlier matchless starts gate the emission (NFAState start-ordered
# queue; they are themselves reported, never pruned, because the
# deferred emission lands at/after their horizon); the start's waiters
# are pruned iff that event precedes the start's own horizon. t1 = the
# {A} waiter of every unpruned witnessed start, t2 = every fbAny {A,B}
# branch (B = ANY error strictly inside the window — fba waiters
# persist past sibling takes, NFAITCase:405). Scale: the engine adds
# one keyed shuffle of (key, rid, tick) for the emission replay over
# the no_skip branch passes; per-key work is numpy masks over start
# summaries.
# ---------------------------------------------------------------------------
_CEP_SKIP_DELTA = 172800 * 100000  # 2 days in ord units


@query(
    "q_cep_timeout_skip",
    f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER w0 AS rn,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000
               + ROW_NUMBER() OVER w0 AS ord
      FROM events
      WINDOW w0 AS (PARTITION BY user_id
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
    ),
    enriched AS (
      SELECT *,
             MAX(ord) OVER (PARTITION BY user_id) AS pmax,
             MIN(CASE WHEN event_type = 'error' THEN ord END)
               OVER wf AS next_b,
             MIN(CASE WHEN event_type = 'purchase' THEN ord END)
               OVER wf AS next_c
      FROM seq
      WINDOW wf AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    a_rows AS (SELECT * FROM enriched WHERE event_type = 'signup'),
    m AS (  -- to_next: one first-completed match per start
      SELECT a.user_id, a.ord AS a_ord, b.next_c AS c_ord
      FROM a_rows a
      JOIN enriched b ON b.user_id = a.user_id AND b.ord = a.next_b
      WHERE a.next_b IS NOT NULL AND b.next_c IS NOT NULL
        AND b.next_c < a.ord + {_CEP_SKIP_DELTA}
    ),
    ann AS (  -- horizons of earlier matchless starts gate the emission
      SELECT a.user_id, a.ord AS a_ord, a.pmax, m.c_ord,
             MAX(CASE WHEN m.c_ord IS NULL AND a.pmax >= a.ord + {_CEP_SKIP_DELTA}
                      THEN a.ord + {_CEP_SKIP_DELTA} END)
               OVER (PARTITION BY a.user_id ORDER BY a.ord
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
      FROM a_rows a
      LEFT JOIN m ON m.user_id = a.user_id AND m.a_ord = a.ord
    ),
    pruned AS (  -- emission event before the start's own horizon
      SELECT x.user_id, x.a_ord
      FROM ann x
      WHERE x.c_ord IS NOT NULL
        AND (SELECT MIN(e.ord) FROM seq e
              WHERE e.user_id = x.user_id
                AND e.ord >= GREATEST(x.c_ord, COALESCE(x.run_max, x.c_ord)))
            < x.a_ord + {_CEP_SKIP_DELTA}
    ),
    alive AS (
      SELECT a.* FROM a_rows a
      WHERE a.pmax >= a.ord + {_CEP_SKIP_DELTA}
        AND NOT EXISTS (SELECT 1 FROM pruned p
                         WHERE p.user_id = a.user_id AND p.a_ord = a.ord)
    ),
    t1 AS (
      SELECT user_id, event_id AS a_id, CAST(NULL AS BIGINT) AS b_id,
             CAST(1 AS BIGINT) AS n_rows, ord + {_CEP_SKIP_DELTA} AS tout
      FROM alive
    ),
    t2 AS (  -- every fbAny {{A,B}} branch persists to the horizon
      SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
             CAST(2 AS BIGINT) AS n_rows, a.ord + {_CEP_SKIP_DELTA} AS tout
      FROM alive a
      JOIN seq b ON b.user_id = a.user_id AND b.event_type = 'error'
                AND b.ord > a.ord AND b.ord < a.ord + {_CEP_SKIP_DELTA}
    )
    SELECT user_id, a_id, b_id, n_rows, CAST(tout AS BIGINT) AS timeout_ord
    FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
    ORDER BY user_id, a_id, n_rows, b_id
    """,
)
def q_cep_timeout_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from reshape_on_flink_spark.api.cep import CEP, Pattern

    ev = load_tables(spark, sf_dir)["events"]
    w0 = W.partitionBy("user_id").orderBy("sec", "event_id")
    src = ev.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("sec")
    ).withColumn(
        "ord", F.col("sec") * 100000 + F.row_number().over(w0)
    )
    pat = (
        Pattern.begin("A").where(F.col("event_type") == "signup")
        .followed_by_any("B").where(F.col("event_type") == "error")
        .followed_by_any("C").where(F.col("event_type") == "purchase")
        .within(_CEP_SKIP_DELTA)
    )
    ps = CEP.pattern(src, pat, "user_id", "ord", after_match="to_next_row")
    t = ps.timed_out_partial_matches()
    return (
        t.groupBy("user_id", "timeout_id")
        .agg(
            F.min(F.when(F.col("matched_symbol") == "A", F.col("event_id"))).alias("a_id"),
            F.min(F.when(F.col("matched_symbol") == "B", F.col("event_id"))).alias("b_id"),
            F.count("*").alias("n_rows"),
            F.min("timeout_ts").cast("bigint").alias("timeout_ord"),
        )
        .select("user_id", "a_id", "b_id", "n_rows", "timeout_ord")
        .orderBy("user_id", "a_id", "n_rows", "b_id")
    )


# ---------------------------------------------------------------------------
# CEP timed-out partials under greedy() (round 12). Pattern A(signup)
# -fb-> B(error)+.greedy() -fb-> C(purchase) WITHIN 2 days, no_skip.
# Reference: NFACompiler.updateWithGreedyCondition ANDs NOT(B-take)
# onto every transition of the loop's PROCEED sink, so a mid-loop
# migrated copy parked at C dies on the next error — only the MAXIMAL
# forced-take branch per start survives to its horizon. Closed form:
# one timeout per witnessed start — the lone {A} B-waiter when the
# window holds no error, else {A + ALL errors in (a, a+delta)}
# (relaxed inner ignore NOT(take) forces the error-prefix chain; the
# greedy kill removes every shorter chain's C-copy). Purchases never
# kill a parked branch (relaxed ignore persists past PROCEED siblings).
# Scale: the same one-keyed-shuffle branch passes as q_cep_timeout.
# ---------------------------------------------------------------------------
@query(
    "q_cep_timeout_greedy",
    f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000
               + ROW_NUMBER() OVER w0 AS ord
      FROM events
      WINDOW w0 AS (PARTITION BY user_id
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
    ),
    pm AS (SELECT user_id, MAX(ord) AS pmax FROM seq GROUP BY user_id),
    a_rows AS (
      SELECT s.*, p.pmax FROM seq s JOIN pm p USING (user_id)
      WHERE s.event_type = 'signup' AND p.pmax >= s.ord + {_CEP_SKIP_DELTA}
    ),
    eb AS (
      SELECT a.user_id, a.event_id AS a_id, a.ord AS a_ord,
             COUNT(b.ord) AS bc, ARG_MAX(b.event_id, b.ord) AS bl
      FROM a_rows a
      LEFT JOIN seq b ON b.user_id = a.user_id AND b.event_type = 'error'
                     AND b.ord > a.ord AND b.ord < a.ord + {_CEP_SKIP_DELTA}
      GROUP BY a.user_id, a.event_id, a.ord
    )
    SELECT user_id, a_id,
           CASE WHEN bc = 0 THEN NULL ELSE bl END AS b_last,
           CAST(1 + bc AS BIGINT) AS n_rows,
           CAST(a_ord + {_CEP_SKIP_DELTA} AS BIGINT) AS timeout_ord
    FROM eb
    ORDER BY user_id, a_id
    """,
)
def q_cep_timeout_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from reshape_on_flink_spark.api.cep import CEP, Pattern

    ev = load_tables(spark, sf_dir)["events"]
    w0 = W.partitionBy("user_id").orderBy("sec", "event_id")
    src = ev.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("sec")
    ).withColumn(
        "ord", F.col("sec") * 100000 + F.row_number().over(w0)
    )
    pat = (
        Pattern.begin("A").where(F.col("event_type") == "signup")
        .followed_by("B").where(F.col("event_type") == "error")
        .one_or_more().greedy()
        .followed_by("C").where(F.col("event_type") == "purchase")
        .within(_CEP_SKIP_DELTA)
    )
    ps = CEP.pattern(src, pat, "user_id", "ord", after_match="no_skip")
    t = ps.timed_out_partial_matches()
    return (
        t.groupBy("user_id", "timeout_id")
        .agg(
            F.min(F.when(F.col("matched_symbol") == "A", F.col("event_id"))).alias("a_id"),
            F.max_by(
                F.when(F.col("matched_symbol") == "B", F.col("event_id")), F.col("ord")
            ).alias("b_last"),
            F.count("*").alias("n_rows"),
            F.min("timeout_ts").cast("bigint").alias("timeout_ord"),
        )
        .select("user_id", "a_id", "b_last", "n_rows", "timeout_ord")
        .orderBy("user_id", "a_id")
    )


# ---------------------------------------------------------------------------
# CEP timed-out partials under greedy() + allowCombinations() (round
# 13). Pattern A(signup) -fb-> B(error).times(2,3).allowCombinations()
# .greedy() -fb-> C(purchase) WITHIN 2 days, no_skip. Reference
# semantics (NFACompiler): the loop's TRUE inner ignore keeps every
# mid-loop branch alive and lets it skip errors (subset enumeration
# anchored on the FIRST error — the relaxed entry waiter force-takes
# it), while updateWithGreedyCondition guards the PROCEED sink, so a
# maxed 3-take branch parked at C dies on any later error. Closed
# form per witnessed start with errors e1<...<ek in the window:
# {A} alone iff k=0; {A,e1} and every {A,e1,ej} persist mid-loop
# (true ignore); {A,e1,ei,ek} (1<i<k) parks at C and survives iff no
# error follows ek (j=k by construction) and no purchase consumes the
# waiter in (ek, horizon). Scale: same one-keyed-shuffle branch
# enumeration as q_cep_timeout_greedy; the times(2,3) bound caps the
# subset fan-out at O(k^2) per start.
# ---------------------------------------------------------------------------
@query(
    "q_cep_timeout_comb_greedy",
    f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000
               + ROW_NUMBER() OVER w0 AS ord
      FROM events
      WINDOW w0 AS (PARTITION BY user_id
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
    ),
    pm AS (SELECT user_id, MAX(ord) AS pmax FROM seq GROUP BY user_id),
    a_rows AS (
      SELECT s.*, p.pmax FROM seq s JOIN pm p USING (user_id)
      WHERE s.event_type = 'signup' AND p.pmax >= s.ord + {_CEP_SKIP_DELTA}
    ),
    errs AS (
      SELECT a.user_id, a.event_id AS a_id, a.ord AS a_ord,
             b.event_id AS b_id, b.ord AS b_ord,
             ROW_NUMBER() OVER (PARTITION BY a.user_id, a.event_id
                                ORDER BY b.ord) AS rn,
             COUNT(*) OVER (PARTITION BY a.user_id, a.event_id) AS k,
             MAX(b.ord) OVER (PARTITION BY a.user_id, a.event_id) AS bmax
      FROM a_rows a
      JOIN seq b ON b.user_id = a.user_id AND b.event_type = 'error'
                AND b.ord > a.ord AND b.ord < a.ord + {_CEP_SKIP_DELTA}
    ),
    t0 AS (  -- no error in the window: the B-entry waiter persists
      SELECT a.user_id, a.event_id AS a_id, CAST(1 AS BIGINT) AS n_rows,
             CAST(NULL AS BIGINT) AS b2_id, CAST(NULL AS BIGINT) AS b3_id,
             a.ord + {_CEP_SKIP_DELTA} AS tout
      FROM a_rows a
      WHERE NOT EXISTS (SELECT 1 FROM seq b
                         WHERE b.user_id = a.user_id
                           AND b.event_type = 'error'
                           AND b.ord > a.ord
                           AND b.ord < a.ord + {_CEP_SKIP_DELTA})
    ),
    t1 AS (  -- one take: the forced first error, parked inside the loop
      SELECT user_id, a_id, CAST(2 AS BIGINT) AS n_rows,
             CAST(NULL AS BIGINT) AS b2_id, CAST(NULL AS BIGINT) AS b3_id,
             a_ord + {_CEP_SKIP_DELTA} AS tout
      FROM errs WHERE rn = 1
    ),
    t2 AS (  -- two takes {{e1, ej}}: true ignore persists every subset
      SELECT user_id, a_id, CAST(3 AS BIGINT) AS n_rows,
             b_id AS b2_id, CAST(NULL AS BIGINT) AS b3_id,
             a_ord + {_CEP_SKIP_DELTA} AS tout
      FROM errs WHERE rn >= 2
    ),
    t3 AS (  -- maxed {{e1, ei, ek}}: the guarded C-waiter survives iff
             -- nothing follows ek (errors kill, purchases consume)
      SELECT e.user_id, e.a_id, CAST(4 AS BIGINT) AS n_rows,
             e.b_id AS b2_id,
             (SELECT el.b_id FROM errs el
               WHERE el.user_id = e.user_id AND el.a_id = e.a_id
                 AND el.rn = e.k) AS b3_id,
             e.a_ord + {_CEP_SKIP_DELTA} AS tout
      FROM errs e
      WHERE e.rn BETWEEN 2 AND e.k - 1
        AND NOT EXISTS (SELECT 1 FROM seq c
                         WHERE c.user_id = e.user_id
                           AND c.event_type = 'purchase'
                           AND c.ord > e.bmax
                           AND c.ord < e.a_ord + {_CEP_SKIP_DELTA})
    )
    SELECT user_id, a_id, n_rows, b2_id, b3_id,
           CAST(tout AS BIGINT) AS timeout_ord
    FROM (SELECT * FROM t0 UNION ALL SELECT * FROM t1
          UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3)
    ORDER BY user_id, a_id, n_rows, b2_id, b3_id
    """,
)
def q_cep_timeout_comb_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from reshape_on_flink_spark.api.cep import CEP, Pattern

    ev = load_tables(spark, sf_dir)["events"]
    w0 = W.partitionBy("user_id").orderBy("sec", "event_id")
    src = ev.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("sec")
    ).withColumn(
        "ord", F.col("sec") * 100000 + F.row_number().over(w0)
    )
    pat = (
        Pattern.begin("A").where(F.col("event_type") == "signup")
        .followed_by("B").where(F.col("event_type") == "error")
        .times(2, 3).allow_combinations().greedy()
        .followed_by("C").where(F.col("event_type") == "purchase")
        .within(_CEP_SKIP_DELTA)
    )
    ps = CEP.pattern(src, pat, "user_id", "ord", after_match="no_skip")
    t = ps.timed_out_partial_matches()
    bs = F.when(F.col("matched_symbol") == "B",
                F.struct(F.col("ord"), F.col("event_id")))
    return (
        t.groupBy("user_id", "timeout_id")
        .agg(
            F.min(F.when(F.col("matched_symbol") == "A", F.col("event_id"))).alias("a_id"),
            F.count("*").alias("n_rows"),
            F.sort_array(F.collect_list(bs)).alias("b_sorted"),
            F.min("timeout_ts").cast("bigint").alias("timeout_ord"),
        )
        .select(
            "user_id", "a_id", "n_rows",
            F.get("b_sorted", 1)["event_id"].alias("b2_id"),
            F.get("b_sorted", 2)["event_id"].alias("b3_id"),
            "timeout_ord",
        )
        .orderBy("user_id", "a_id", "n_rows", "b2_id", "b3_id")
    )


# ---------------------------------------------------------------------------
# CEP timed-out partials of a GROUP LOOP with until() (round 12) —
# NFACompiler looping-GroupPattern states + the until stop edge on
# every looping position. Pattern: signup fb (error fb purchase)+
# .until(view) within 2 days, no_skip. With relaxed forced-take links
# the per-start chain is DETERMINISTIC (take the first matching event
# each step), so the oracle walks it with a recursive CTE over
# precomputed next-error/next-purchase/next-view lookaheads: advance
# while the next expected event precedes both the horizon and the next
# view; die if a view comes first; otherwise the branch is parked and
# reports at the horizon (given a witness row at/after it). Scale: the
# same one-keyed-shuffle branch enumeration as q_cep_timeout.
# ---------------------------------------------------------------------------
@query(
    "q_cep_timeout_group_until",
    f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000
               + ROW_NUMBER() OVER w0 AS ord
      FROM events
      WINDOW w0 AS (PARTITION BY user_id
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
    ),
    lk AS (
      SELECT user_id, event_id, event_type, ord,
             MIN(CASE WHEN event_type = 'error' THEN ord END) OVER wf AS nx_b,
             MIN(CASE WHEN event_type = 'purchase' THEN ord END) OVER wf AS nx_c,
             MIN(CASE WHEN event_type = 'view' THEN ord END) OVER wf AS nx_u,
             MAX(ord) OVER (PARTITION BY user_id) AS pmax
      FROM seq
      WINDOW wf AS (PARTITION BY user_id ORDER BY ord
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    starts AS (
      SELECT user_id, event_id AS a_id, ord AS a_ord
      FROM lk
      WHERE event_type = 'signup' AND pmax >= ord + {_CEP_SKIP_DELTA}
    ),
    chain(user_id, a_id, a_ord, cur, want_b, n) AS (
      SELECT user_id, a_id, a_ord, a_ord, TRUE, 0 FROM starts
      UNION ALL
      SELECT c.user_id, c.a_id, c.a_ord,
             CASE WHEN c.want_b THEN r.nx_b ELSE r.nx_c END,
             NOT c.want_b, c.n + 1
      FROM chain c
      JOIN lk r ON r.user_id = c.user_id AND r.ord = c.cur
      WHERE CASE WHEN c.want_b THEN r.nx_b ELSE r.nx_c END IS NOT NULL
        AND CASE WHEN c.want_b THEN r.nx_b ELSE r.nx_c END
              < c.a_ord + {_CEP_SKIP_DELTA}
        AND (r.nx_u IS NULL
             OR CASE WHEN c.want_b THEN r.nx_b ELSE r.nx_c END < r.nx_u)
    )
    SELECT c.user_id, c.a_id, CAST(1 + c.n AS BIGINT) AS n_rows,
           CAST(c.a_ord + {_CEP_SKIP_DELTA} AS BIGINT) AS timeout_ord
    FROM chain c
    JOIN lk r ON r.user_id = c.user_id AND r.ord = c.cur
    WHERE COALESCE(
            LEAST(CASE WHEN c.want_b THEN r.nx_b ELSE r.nx_c END, r.nx_u),
            c.a_ord + {_CEP_SKIP_DELTA}
          ) >= c.a_ord + {_CEP_SKIP_DELTA}
    ORDER BY c.user_id, c.a_id
    """,
)
def q_cep_timeout_group_until(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from reshape_on_flink_spark.api.cep import CEP, Pattern

    ev = load_tables(spark, sf_dir)["events"]
    w0 = W.partitionBy("user_id").orderBy("sec", "event_id")
    src = ev.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("sec")
    ).withColumn(
        "ord", F.col("sec") * 100000 + F.row_number().over(w0)
    )
    grp = (
        Pattern.begin("B").where(F.col("event_type") == "error")
        .followed_by("C").where(F.col("event_type") == "purchase")
    )
    pat = (
        Pattern.begin("A").where(F.col("event_type") == "signup")
        .followed_by(grp).one_or_more()
        .until(F.col("event_type") == "view")
        .within(_CEP_SKIP_DELTA)
    )
    ps = CEP.pattern(src, pat, "user_id", "ord", after_match="no_skip")
    t = ps.timed_out_partial_matches()
    return (
        t.groupBy("user_id", "timeout_id")
        .agg(
            F.min(F.when(F.col("matched_symbol") == "A", F.col("event_id"))).alias("a_id"),
            F.count("*").alias("n_rows"),
            F.min("timeout_ts").cast("bigint").alias("timeout_ord"),
        )
        .select("user_id", "a_id", "n_rows", "timeout_ord")
        .orderBy("user_id", "a_id")
    )


# ---------------------------------------------------------------------------
# CEP timed-out partials of a group loop with an OPTIONAL inner leaf
# (round 12, late) — signup fb (error fb purchase?)+ fb click within
# 2 days, no_skip. A branch that took the entry leaf is SIMULTANEOUSLY
# waiting at the optional tail, at the iteration boundary (next entry)
# and — the one_or_more minimum being met — at the successor, so the
# per-start walk BRANCHES. The oracle walks the computation tree with
# a recursive CTE over next-event lookaheads; from a tail-pending node
# the next iteration may start at any error BEFORE the first purchase
# (the tail-waiter's NOT(purchase) ignore branches at each) or at the
# FIRST error overall (the boundary copy's forced take) — this is the
# same two-path link rule the engine's fluid-link filter enforces. A
# node is a reported partial iff ANY of its waits survives to the
# horizon. Row sets are unique per (start, n, last_ord). Scale: the
# same one-keyed-shuffle enumeration as the other timeout gates.
# ---------------------------------------------------------------------------
@query(
    "q_cep_timeout_group_opt",
    f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000
               + ROW_NUMBER() OVER w0 AS ord
      FROM events
      WINDOW w0 AS (PARTITION BY user_id
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
    ),
    lk AS (
      SELECT user_id, event_id, event_type, ord,
             MIN(CASE WHEN event_type = 'error' THEN ord END) OVER wf AS nx_b,
             MIN(CASE WHEN event_type = 'purchase' THEN ord END) OVER wf AS nx_c,
             MIN(CASE WHEN event_type = 'click' THEN ord END) OVER wf AS nx_d,
             MAX(ord) OVER (PARTITION BY user_id) AS pmax
      FROM seq
      WINDOW wf AS (PARTITION BY user_id ORDER BY ord
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    starts AS (
      SELECT user_id, event_id AS a_id, ord AS a_ord
      FROM lk
      WHERE event_type = 'signup' AND pmax >= ord + {_CEP_SKIP_DELTA}
    ),
    chain(user_id, a_id, a_ord, cur, st, n) AS (
      SELECT user_id, a_id, a_ord, a_ord, 'A', 0 FROM starts
      UNION ALL
      SELECT c.user_id, c.a_id, c.a_ord, e.ord,
             CASE WHEN e.event_type = 'purchase' THEN 'C' ELSE 'B' END,
             c.n + 1
      FROM chain c
      JOIN lk r ON r.user_id = c.user_id AND r.ord = c.cur
      JOIN lk e ON e.user_id = c.user_id AND e.ord > c.cur
               AND e.ord < c.a_ord + {_CEP_SKIP_DELTA}
      WHERE (e.event_type = 'error'
             AND (
               (c.st = 'B'
                AND (e.ord < COALESCE(r.nx_c, e.ord + 1)
                     OR e.ord = r.nx_b))
               OR (c.st <> 'B' AND e.ord = r.nx_b)
             ))
         OR (c.st = 'B' AND e.event_type = 'purchase'
             AND e.ord = r.nx_c)
    )
    SELECT c.user_id, c.a_id, CAST(1 + c.n AS BIGINT) AS n_rows,
           CAST(c.cur AS BIGINT) AS last_ord,
           CAST(c.a_ord + {_CEP_SKIP_DELTA} AS BIGINT) AS timeout_ord
    FROM chain c
    JOIN lk r ON r.user_id = c.user_id AND r.ord = c.cur
    WHERE CASE
            WHEN c.st = 'A' THEN
              COALESCE(r.nx_b, c.a_ord + {_CEP_SKIP_DELTA})
                >= c.a_ord + {_CEP_SKIP_DELTA}
            WHEN c.st = 'B' THEN
              COALESCE(r.nx_c, c.a_ord + {_CEP_SKIP_DELTA})
                  >= c.a_ord + {_CEP_SKIP_DELTA}
              OR COALESCE(r.nx_b, c.a_ord + {_CEP_SKIP_DELTA})
                  >= c.a_ord + {_CEP_SKIP_DELTA}
              OR COALESCE(r.nx_d, c.a_ord + {_CEP_SKIP_DELTA})
                  >= c.a_ord + {_CEP_SKIP_DELTA}
            ELSE
              COALESCE(r.nx_b, c.a_ord + {_CEP_SKIP_DELTA})
                  >= c.a_ord + {_CEP_SKIP_DELTA}
              OR COALESCE(r.nx_d, c.a_ord + {_CEP_SKIP_DELTA})
                  >= c.a_ord + {_CEP_SKIP_DELTA}
          END
    ORDER BY c.user_id, c.a_id, n_rows, last_ord
    """,
)
def q_cep_timeout_group_opt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from reshape_on_flink_spark.api.cep import CEP, Pattern

    ev = load_tables(spark, sf_dir)["events"]
    w0 = W.partitionBy("user_id").orderBy("sec", "event_id")
    src = ev.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("sec")
    ).withColumn(
        "ord", F.col("sec") * 100000 + F.row_number().over(w0)
    )
    grp = (
        Pattern.begin("B").where(F.col("event_type") == "error")
        .followed_by("C").where(F.col("event_type") == "purchase").optional()
    )
    pat = (
        Pattern.begin("A").where(F.col("event_type") == "signup")
        .followed_by(grp).one_or_more()
        .followed_by("D").where(F.col("event_type") == "click")
        .within(_CEP_SKIP_DELTA)
    )
    ps = CEP.pattern(src, pat, "user_id", "ord", after_match="no_skip")
    t = ps.timed_out_partial_matches()
    return (
        t.groupBy("user_id", "timeout_id")
        .agg(
            F.min(F.when(F.col("matched_symbol") == "A", F.col("event_id"))).alias("a_id"),
            F.count("*").alias("n_rows"),
            F.max("ord").alias("last_ord"),
            F.min("timeout_ts").cast("bigint").alias("timeout_ord"),
        )
        .select("user_id", "a_id", "n_rows", "last_ord", "timeout_ord")
        .orderBy("user_id", "a_id", "n_rows", "last_ord")
    )


# ---------------------------------------------------------------------------
# CEP timed-out partials of a group loop with a BOUNDED inner
# quantifier (round 14, dual runtime counters) — signup fb
# (error{2,3} fb purchase)+ fb click within 2 days, no_skip.
# NFACompiler compiles times(2,3) into a 3-state chain (2 mandatory);
# a branch parked at chain position j spawns PROCEED copies only once
# j >= 2 (the engine's second, current-iteration counter) and leaves
# the chain only by taking the 3rd error (the pinned exit-by-max
# park). The oracle walks the branching computation tree: per node the
# next take is the FIRST error (loop/entry — relaxed links force-take)
# or, from j >= 2, the FIRST purchase (the C-copy); states are
# determined by the taken event types, so row sets are unique per
# walk. A node reports iff ANY of its waits survives to the horizon:
# j=1 the loop scan only, j=2 loop OR purchase-copy, j=3 purchase
# only, iteration-complete entry OR click-copy. Scale: the same
# one-keyed-shuffle (now ONE multi-plan pass) as the other gates.
# ---------------------------------------------------------------------------
@query(
    "q_cep_timeout_group_times",
    f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000
               + ROW_NUMBER() OVER w0 AS ord
      FROM events
      WINDOW w0 AS (PARTITION BY user_id
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
    ),
    lk AS (
      SELECT user_id, event_id, event_type, ord,
             MIN(CASE WHEN event_type = 'error' THEN ord END) OVER wf AS nx_b,
             MIN(CASE WHEN event_type = 'purchase' THEN ord END) OVER wf AS nx_c,
             MIN(CASE WHEN event_type = 'click' THEN ord END) OVER wf AS nx_d,
             MAX(ord) OVER (PARTITION BY user_id) AS pmax
      FROM seq
      WINDOW wf AS (PARTITION BY user_id ORDER BY ord
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    starts AS (
      SELECT user_id, event_id AS a_id, ord AS a_ord
      FROM lk
      WHERE event_type = 'signup' AND pmax >= ord + {_CEP_SKIP_DELTA}
    ),
    chain(user_id, a_id, a_ord, cur, st, n) AS (
      SELECT user_id, a_id, a_ord, a_ord, 'A', 0 FROM starts
      UNION ALL
      SELECT c.user_id, c.a_id, c.a_ord, e.ord,
             CASE WHEN e.event_type = 'purchase' THEN 'C'
                  WHEN c.st = 'B1' THEN 'B2'
                  WHEN c.st = 'B2' THEN 'B3'
                  ELSE 'B1' END,
             c.n + 1
      FROM chain c
      JOIN lk r ON r.user_id = c.user_id AND r.ord = c.cur
      JOIN lk e ON e.user_id = c.user_id
               AND e.ord < c.a_ord + {_CEP_SKIP_DELTA}
               AND (
                 (e.ord = r.nx_b AND c.st IN ('A', 'B1', 'B2', 'C'))
                 OR (e.ord = r.nx_c AND c.st IN ('B2', 'B3'))
               )
    )
    SELECT c.user_id, c.a_id, CAST(1 + c.n AS BIGINT) AS n_rows,
           CAST(c.cur AS BIGINT) AS last_ord,
           CAST(c.a_ord + {_CEP_SKIP_DELTA} AS BIGINT) AS timeout_ord
    FROM chain c
    JOIN lk r ON r.user_id = c.user_id AND r.ord = c.cur
    WHERE CASE
            WHEN c.st IN ('A', 'B1') THEN
              COALESCE(r.nx_b, c.a_ord + {_CEP_SKIP_DELTA})
                >= c.a_ord + {_CEP_SKIP_DELTA}
            WHEN c.st = 'B2' THEN
              COALESCE(r.nx_b, c.a_ord + {_CEP_SKIP_DELTA})
                  >= c.a_ord + {_CEP_SKIP_DELTA}
              OR COALESCE(r.nx_c, c.a_ord + {_CEP_SKIP_DELTA})
                  >= c.a_ord + {_CEP_SKIP_DELTA}
            WHEN c.st = 'B3' THEN
              COALESCE(r.nx_c, c.a_ord + {_CEP_SKIP_DELTA})
                  >= c.a_ord + {_CEP_SKIP_DELTA}
            ELSE
              COALESCE(r.nx_b, c.a_ord + {_CEP_SKIP_DELTA})
                  >= c.a_ord + {_CEP_SKIP_DELTA}
              OR COALESCE(r.nx_d, c.a_ord + {_CEP_SKIP_DELTA})
                  >= c.a_ord + {_CEP_SKIP_DELTA}
          END
    ORDER BY c.user_id, c.a_id, n_rows, last_ord
    """,
)
def q_cep_timeout_group_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from reshape_on_flink_spark.api.cep import CEP, Pattern

    ev = load_tables(spark, sf_dir)["events"]
    w0 = W.partitionBy("user_id").orderBy("sec", "event_id")
    src = ev.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("sec")
    ).withColumn(
        "ord", F.col("sec") * 100000 + F.row_number().over(w0)
    )
    grp = (
        Pattern.begin("B").where(F.col("event_type") == "error").times(2, 3)
        .followed_by("C").where(F.col("event_type") == "purchase")
    )
    pat = (
        Pattern.begin("A").where(F.col("event_type") == "signup")
        .followed_by(grp).one_or_more()
        .followed_by("D").where(F.col("event_type") == "click")
        .within(_CEP_SKIP_DELTA)
    )
    ps = CEP.pattern(src, pat, "user_id", "ord", after_match="no_skip")
    t = ps.timed_out_partial_matches()
    return (
        t.groupBy("user_id", "timeout_id")
        .agg(
            F.min(F.when(F.col("matched_symbol") == "A", F.col("event_id"))).alias("a_id"),
            F.count("*").alias("n_rows"),
            F.max("ord").alias("last_ord"),
            F.min("timeout_ts").cast("bigint").alias("timeout_ord"),
        )
        .select("user_id", "a_id", "n_rows", "last_ord", "timeout_ord")
        .orderBy("user_id", "a_id", "n_rows", "last_ord")
    )


# ---------------------------------------------------------------------------
# CEP timed-out partials of a GREEDY inner loop inside a group loop
# (round 14, late) — signup fb (error+ GREEDY fb purchase).times(2) fb
# click within 2 days, no_skip. NFACompiler re-applies
# updateWithGreedyCondition inside every iteration copy, so the loop's
# PROCEED sink (the iteration's purchase take, and the copy waiting at
# it) dies on any error in its span. Closed form per start a
# (horizon h = a + delta; E(x,y) = errors strictly between):
#   T0 {a}                       iff E(a,h) = 0            (head park)
#   T1 {a, E(a,h)}               iff E(a,h) >= 1 (maximal in-loop run;
#       shorter runs are consumed by the next error, and their sink
#       copies die on it — the greedy 'gap' kill)
#   T2 {a, E(a,p), p}  per purchase p in (a,h) with E(a,p) >= 1 and
#       E(p,h) = 0                            (between-iterations wait)
#   T3 {a, E(a,p), p, E(p,h)}    iff E(a,p) >= 1 and E(p,h) >= 1
#                                        (iteration-2 maximal in-loop)
#   T4 {a, E(a,p), p, E(p,p2), p2} per purchase pair p < p2 with
#       E(a,p) >= 1, E(p,p2) >= 1 and no click in (p2,h)  (maxed-group
#       D-wait, past the guarded sink — unguarded)
# Greedy is what makes each iteration's error set FORCED (all errors
# in the interval): a sub-run's purchase take has a later error in its
# span and is killed — the non-greedy oracle would also count every
# error-prefix subset. Pinned by the test_timeout_group_greedy_loop_*
# matrices and the group_greedy_loop property-grid cells.
# Scale: the T4 purchase-pair join is per-user and horizon-bounded —
# the same one-keyed-shuffle shape as the other timeout gates.
# ---------------------------------------------------------------------------
@query(
    "q_cep_timeout_group_greedy",
    f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000
               + ROW_NUMBER() OVER w0 AS ord
      FROM events
      WINDOW w0 AS (PARTITION BY user_id
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
    ),
    pm AS (SELECT user_id, MAX(ord) AS pmax FROM seq GROUP BY user_id),
    lk2 AS (
      SELECT user_id, ord, event_type,
             MAX(CASE WHEN event_type = 'error' THEN ord END)
               OVER wp AS prev_er,
             MAX(CASE WHEN event_type = 'purchase' THEN ord END)
               OVER wp AS prev_pu
      FROM seq
      WINDOW wp AS (PARTITION BY user_id ORDER BY ord
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    er AS (SELECT user_id, ord FROM seq WHERE event_type = 'error'),
    -- a purchase can close an iteration only as the FIRST purchase
    -- after the run's last error (the C-waiter's relaxed ignore is
    -- NOT(purchase) — it cannot skip a C-able event): last purchase
    -- before p must precede last error before p
    pu AS (SELECT user_id, ord, prev_er, prev_pu FROM lk2
           WHERE event_type = 'purchase'
             AND prev_er IS NOT NULL
             AND COALESCE(prev_pu, 0) < prev_er),
    ck AS (SELECT user_id, ord FROM seq WHERE event_type = 'click'),
    starts AS (
      SELECT s.user_id, s.event_id AS a_id, s.ord AS a_ord,
             s.ord + {_CEP_SKIP_DELTA} AS h
      FROM seq s JOIN pm USING (user_id)
      WHERE s.event_type = 'signup' AND pm.pmax >= s.ord + {_CEP_SKIP_DELTA}
    ),
    t0 AS (
      SELECT user_id, a_id, CAST(1 AS BIGINT) AS n_rows,
             a_ord AS last_ord, h
      FROM starts s
      WHERE NOT EXISTS (SELECT 1 FROM er e WHERE e.user_id = s.user_id
                          AND e.ord > s.a_ord AND e.ord < s.h)
    ),
    t1 AS (
      SELECT s.user_id, s.a_id, CAST(1 + COUNT(*) AS BIGINT) AS n_rows,
             MAX(e.ord) AS last_ord, s.h
      FROM starts s JOIN er e ON e.user_id = s.user_id
            AND e.ord > s.a_ord AND e.ord < s.h
      GROUP BY s.user_id, s.a_id, s.h
    ),
    it1 AS (
      SELECT s.user_id, s.a_id, s.a_ord, s.h, p.ord AS p_ord,
             (SELECT COUNT(*) FROM er e WHERE e.user_id = s.user_id
                AND e.ord > s.a_ord AND e.ord < p.ord) AS ne1
      FROM starts s JOIN pu p ON p.user_id = s.user_id
            AND p.ord > s.a_ord AND p.ord < s.h
    ),
    t2 AS (
      SELECT user_id, a_id, CAST(2 + ne1 AS BIGINT) AS n_rows,
             p_ord AS last_ord, h
      FROM it1 i
      WHERE ne1 >= 1 AND NOT EXISTS (
        SELECT 1 FROM er e WHERE e.user_id = i.user_id
          AND e.ord > i.p_ord AND e.ord < i.h)
    ),
    t3 AS (
      SELECT i.user_id, i.a_id,
             CAST(2 + i.ne1 + COUNT(*) AS BIGINT) AS n_rows,
             MAX(e.ord) AS last_ord, i.h
      FROM it1 i JOIN er e ON e.user_id = i.user_id
            AND e.ord > i.p_ord AND e.ord < i.h
      WHERE i.ne1 >= 1
      GROUP BY i.user_id, i.a_id, i.p_ord, i.ne1, i.h
    ),
    t4 AS (
      SELECT i.user_id, i.a_id,
             CAST(3 + i.ne1 + (SELECT COUNT(*) FROM er e
                WHERE e.user_id = i.user_id AND e.ord > i.p_ord
                  AND e.ord < p2.ord) AS BIGINT) AS n_rows,
             p2.ord AS last_ord, i.h
      FROM it1 i JOIN pu p2 ON p2.user_id = i.user_id
            AND p2.ord > i.p_ord AND p2.ord < i.h
      WHERE i.ne1 >= 1
        AND (SELECT COUNT(*) FROM er e WHERE e.user_id = i.user_id
               AND e.ord > i.p_ord AND e.ord < p2.ord) >= 1
        AND NOT EXISTS (SELECT 1 FROM ck c WHERE c.user_id = i.user_id
                          AND c.ord > p2.ord AND c.ord < i.h)
    )
    SELECT user_id, a_id, n_rows, CAST(last_ord AS BIGINT) AS last_ord,
           CAST(h AS BIGINT) AS timeout_ord
    FROM (SELECT * FROM t0 UNION ALL SELECT * FROM t1
          UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
          UNION ALL SELECT * FROM t4)
    ORDER BY user_id, a_id, n_rows, last_ord
    """,
)
def q_cep_timeout_group_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from reshape_on_flink_spark.api.cep import CEP, Pattern

    ev = load_tables(spark, sf_dir)["events"]
    w0 = W.partitionBy("user_id").orderBy("sec", "event_id")
    src = ev.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("sec")
    ).withColumn(
        "ord", F.col("sec") * 100000 + F.row_number().over(w0)
    )
    grp = (
        Pattern.begin("B").where(F.col("event_type") == "error")
        .one_or_more().greedy()
        .followed_by("C").where(F.col("event_type") == "purchase")
    )
    pat = (
        Pattern.begin("A").where(F.col("event_type") == "signup")
        .followed_by(grp).times(2)
        .followed_by("D").where(F.col("event_type") == "click")
        .within(_CEP_SKIP_DELTA)
    )
    ps = CEP.pattern(src, pat, "user_id", "ord", after_match="no_skip")
    t = ps.timed_out_partial_matches()
    return (
        t.groupBy("user_id", "timeout_id")
        .agg(
            F.min(F.when(F.col("matched_symbol") == "A", F.col("event_id"))).alias("a_id"),
            F.count("*").alias("n_rows"),
            F.max("ord").alias("last_ord"),
            F.min("timeout_ts").cast("bigint").alias("timeout_ord"),
        )
        .select("user_id", "a_id", "n_rows", "last_ord", "timeout_ord")
        .orderBy("user_id", "a_id", "n_rows", "last_ord")
    )


# ---------------------------------------------------------------------------
# CEP timed-out partials of an INTERIOR notFollowedBy inside a group
# loop (round 14, late) — signup fb (error ~view purchase).times(2) fb
# click within 2 days, no_skip. addStopStates puts the NOT's stop
# transitions on the state WAITING for the carrier leaf (purchase), so
# that wait dies on a view in its gap in EVERY iteration, while the
# between-iterations / head / D waits are untouched (the purchase take
# discharged the NOT). Every element is a "first X after Y" lookahead
# (entry waits cannot skip errors, the C-wait cannot skip purchases),
# so the closed form is one chain of window lookaheads per start:
#   a1 = first error after s          T1 {s,a1}      iff no purchase
#        AND no view in (a1,h)
#   c1 = first purchase after a1, valid iff no view in (a1,c1)
#                                     T2 {s,a1,c1}   iff no error in (c1,h)
#   a2 = first error after c1         T3 {s,a1,c1,a2} iff no purchase
#        AND no view in (a2,h)
#   c2 = first purchase after a2, valid iff no view in (a2,c2)
#                                     T4 {s,a1,c1,a2,c2} iff no click
#        in (c2,h)
#   T0 {s} iff no error in (s,h)
# Pinned by the test_timeout_group_interior_not_* matrices and the
# group_interior_not property-grid cells. Scale: the same
# one-keyed-shuffle consolidated pass as the other timeout gates; the
# oracle is join-free per step (window lookahead columns).
# ---------------------------------------------------------------------------
@query(
    "q_cep_timeout_group_not",
    f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) * 100000
               + ROW_NUMBER() OVER w0 AS ord
      FROM events
      WINDOW w0 AS (PARTITION BY user_id
                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
    ),
    lk AS (
      SELECT user_id, event_id, event_type, ord,
             MIN(CASE WHEN event_type = 'error' THEN ord END) OVER wf AS nx_a,
             MIN(CASE WHEN event_type = 'purchase' THEN ord END) OVER wf AS nx_c,
             MIN(CASE WHEN event_type = 'view' THEN ord END) OVER wf AS nx_n,
             MIN(CASE WHEN event_type = 'click' THEN ord END) OVER wf AS nx_d,
             MAX(ord) OVER (PARTITION BY user_id) AS pmax
      FROM seq
      WINDOW wf AS (PARTITION BY user_id ORDER BY ord
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    starts AS (
      SELECT user_id, event_id AS s_id, ord AS s_ord,
             ord + {_CEP_SKIP_DELTA} AS h, nx_a
      FROM lk
      WHERE event_type = 'signup' AND pmax >= ord + {_CEP_SKIP_DELTA}
    ),
    t0 AS (
      SELECT user_id, s_id, CAST(1 AS BIGINT) AS n_rows,
             s_ord AS last_ord, h
      FROM starts WHERE nx_a IS NULL OR nx_a >= h
    ),
    s1 AS (  -- a1 taken
      SELECT s.user_id, s.s_id, s.h, r.ord AS a1,
             r.nx_c AS c1x, r.nx_n AS n1x
      FROM starts s JOIN lk r ON r.user_id = s.user_id
            AND r.ord = s.nx_a
      WHERE s.nx_a < s.h
    ),
    t1 AS (
      SELECT user_id, s_id, CAST(2 AS BIGINT) AS n_rows,
             a1 AS last_ord, h
      FROM s1
      WHERE (c1x IS NULL OR c1x >= h) AND (n1x IS NULL OR n1x >= h)
    ),
    s2 AS (  -- c1 taken: first purchase after a1, no view between
      SELECT s.user_id, s.s_id, s.h, s.a1, r.ord AS c1, r.nx_a AS a2x
      FROM s1 s JOIN lk r ON r.user_id = s.user_id AND r.ord = s.c1x
      WHERE s.c1x < s.h AND (s.n1x IS NULL OR s.n1x > s.c1x)
    ),
    t2 AS (
      SELECT user_id, s_id, CAST(3 AS BIGINT) AS n_rows,
             c1 AS last_ord, h
      FROM s2 WHERE a2x IS NULL OR a2x >= h
    ),
    s3 AS (  -- a2 taken
      SELECT s.user_id, s.s_id, s.h, s.a1, s.c1, r.ord AS a2,
             r.nx_c AS c2x, r.nx_n AS n2x
      FROM s2 s JOIN lk r ON r.user_id = s.user_id AND r.ord = s.a2x
      WHERE s.a2x < s.h
    ),
    t3 AS (
      SELECT user_id, s_id, CAST(4 AS BIGINT) AS n_rows,
             a2 AS last_ord, h
      FROM s3
      WHERE (c2x IS NULL OR c2x >= h) AND (n2x IS NULL OR n2x >= h)
    ),
    s4 AS (  -- c2 taken: maxed group, waiting at D
      SELECT s.user_id, s.s_id, s.h, r.ord AS c2, r.nx_d AS d2x
      FROM s3 s JOIN lk r ON r.user_id = s.user_id AND r.ord = s.c2x
      WHERE s.c2x < s.h AND (s.n2x IS NULL OR s.n2x > s.c2x)
    ),
    t4 AS (
      SELECT user_id, s_id, CAST(5 AS BIGINT) AS n_rows,
             c2 AS last_ord, h
      FROM s4 WHERE d2x IS NULL OR d2x >= h
    )
    SELECT user_id, s_id, n_rows, CAST(last_ord AS BIGINT) AS last_ord,
           CAST(h AS BIGINT) AS timeout_ord
    FROM (SELECT * FROM t0 UNION ALL SELECT * FROM t1
          UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
          UNION ALL SELECT * FROM t4)
    ORDER BY user_id, s_id, n_rows, last_ord
    """,
)
def q_cep_timeout_group_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from reshape_on_flink_spark.api.cep import CEP, Pattern

    ev = load_tables(spark, sf_dir)["events"]
    w0 = W.partitionBy("user_id").orderBy("sec", "event_id")
    src = ev.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("sec")
    ).withColumn(
        "ord", F.col("sec") * 100000 + F.row_number().over(w0)
    )
    grp = (
        Pattern.begin("A").where(F.col("event_type") == "error")
        .not_followed_by("N").where(F.col("event_type") == "view")
        .followed_by("C").where(F.col("event_type") == "purchase")
    )
    pat = (
        Pattern.begin("S").where(F.col("event_type") == "signup")
        .followed_by(grp).times(2)
        .followed_by("D").where(F.col("event_type") == "click")
        .within(_CEP_SKIP_DELTA)
    )
    ps = CEP.pattern(src, pat, "user_id", "ord", after_match="no_skip")
    t = ps.timed_out_partial_matches()
    return (
        t.groupBy("user_id", "timeout_id")
        .agg(
            F.min(F.when(F.col("matched_symbol") == "S", F.col("event_id"))).alias("s_id"),
            F.count("*").alias("n_rows"),
            F.max("ord").alias("last_ord"),
            F.min("timeout_ts").cast("bigint").alias("timeout_ord"),
        )
        .select("user_id", "s_id", "n_rows", "last_ord", "timeout_ord")
        .orderBy("user_id", "s_id", "n_rows", "last_ord")
    )


# ---------------------------------------------------------------------------
# Changelog-consuming JOIN (round 10) — StreamingJoinOperator.java:123-198
# under the hash gate. The LEFT input is the per-user retract-agg
# HISTORY (closed-form: the q_retract_transitions recipe — +I then
# -U/+U per input row), the RIGHT a static dim changelog (user ->
# segment, inserted before any left row); the streaming join operator
# consumes both and, for INNER, forwards each input RowKind against the
# single matched dim row — so the full joined emission history is
# closed-form: the left history with the segment attached and
# _change_seq re-counted per join key. Scale: one keyed shuffle into
# the stateful join; per-record emission is the operator's own output
# cost (O(matches touched)).
# ---------------------------------------------------------------------------
@query(
    "q_changelog_join_transitions",
    """
    WITH seq AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                         event_id) AS rn,
             CAST(FLOOR(value * 100) AS BIGINT) AS amt
      FROM events
    ),
    run AS (
      SELECT user_id, rn,
             COUNT(*) OVER w AS cnt,
             SUM(amt) OVER w AS s
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    steps AS (
      SELECT user_id, rn, cnt, s,
             LAG(cnt) OVER w2 AS pcnt, LAG(s) OVER w2 AS ps
      FROM run
      WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
    ),
    changes AS (
      SELECT user_id,
             CASE WHEN rn = 1 THEN '+I' ELSE '+U' END AS _change_type,
             cnt, s,
             CAST(CASE WHEN rn = 1 THEN 0 ELSE (rn - 2) * 2 + 2 END AS BIGINT)
               AS _change_seq
      FROM steps
      UNION ALL
      SELECT user_id, '-U', pcnt, ps, CAST((rn - 2) * 2 + 1 AS BIGINT)
      FROM steps WHERE rn > 1
    )
    SELECT user_id, user_id % 7 AS seg, _change_seq, _change_type,
           CAST(cnt AS BIGINT) AS cnt, CAST(s AS BIGINT) AS amt_sum
    FROM changes
    ORDER BY user_id, _change_seq
    """,
)
def q_changelog_join_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    from reshape_on_flink_spark.streaming.changelog import join_changelog
    from reshape_on_flink_spark.streaming.source import chunked_replay

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("sec"),
        F.floor(F.col("value") * 100).cast("long").alias("amt"),
    )
    w_key = W.partitionBy("user_id").orderBy("sec", "event_id")
    w_run = w_key.rowsBetween(W.unboundedPreceding, W.currentRow)
    run = (
        ev.withColumn("rn", F.row_number().over(w_key))
        .withColumn("cnt", F.count("*").over(w_run))
        .withColumn("s", F.sum("amt").over(w_run))
        .withColumn("pcnt", F.lag("cnt").over(w_key))
        .withColumn("ps", F.lag("s").over(w_key))
    )
    # one window pass instead of two: the old cur/prev self-union re-ran
    # the scan+Exchange+Sort+Window subtree per branch (guide §2.4/§7.2 —
    # duplicated subtrees); inline() emits the -U/+U pair (or the lone
    # +I) from a single window output row, identical rows and oseq values
    _ins_row = F.struct(
        F.lit("+I").alias("_change_type"),
        F.col("cnt"),
        F.col("s").alias("amt_sum"),
        F.lit(0).cast("long").alias("oseq"),
    )
    _ub_row = F.struct(
        F.lit("-U").alias("_change_type"),
        F.col("pcnt").alias("cnt"),
        F.col("ps").alias("amt_sum"),
        ((F.col("rn") - 2) * 2 + 1).cast("long").alias("oseq"),
    )
    _ua_row = F.struct(
        F.lit("+U").alias("_change_type"),
        F.col("cnt"),
        F.col("s").alias("amt_sum"),
        ((F.col("rn") - 2) * 2 + 2).cast("long").alias("oseq"),
    )
    left_hist = run.select(
        "user_id",
        F.inline(
            F.when(F.col("rn") == 1, F.array(_ins_row)).otherwise(
                F.array(_ub_row, _ua_row)
            )
        ),
    )
    dim = (
        ev.select("user_id").distinct()
        .select(
            "user_id", F.lit("+I").alias("_change_type"),
            (F.col("user_id") % 7).alias("seg"),
            F.lit(-1).cast("long").alias("oseq"),  # dim lands first
        )
    )
    # test-harness global replay order consistent with per-key oseq —
    # a map-only monotone expression (oseq-major, user-minor), NOT a
    # row_number over an unpartitioned window: the global window
    # funneled the whole left history through ONE task and was the
    # dominant super-linear term in the sf10 probe (chunked_replay
    # only needs an orderable value; its range bucketing stays the
    # same order)
    lg = left_hist.withColumn(
        "gseq", F.col("oseq") * F.lit(100_000_000) + F.col("user_id")
    )
    rg = dim.withColumn("gseq", -F.col("user_id"))
    base = tempfile.mkdtemp(prefix="jcl_gate_")
    ls = chunked_replay(
        spark, lg, os.path.join(base, "l"), n_chunks=3, order_col="gseq"
    ).drop("gseq")
    rs = chunked_replay(
        spark, rg, os.path.join(base, "r"), n_chunks=1, order_col="gseq"
    ).drop("gseq")
    joined = join_changelog(ls, rs, "user_id", "inner", order_by="oseq")
    # parquet sink + read-back instead of a memory sink: the memory
    # sink collects every output row onto the driver (the second
    # super-linear term at sf10); the parquet sink stays distributed.
    # Inputs + checkpoint are removed; the output dir must outlive the
    # returned DataFrame, so it is removed at interpreter exit.
    out_dir = os.path.join(
        tempfile.gettempdir(), f"jcl_gate_out_{uuid.uuid4().hex[:8]}"
    )
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)
    return (
        spark.read.parquet(out_dir)
        .select(
            "user_id",
            F.col("seg").cast("bigint").alias("seg"),
            "_change_seq",
            "_change_type",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("amt_sum").cast("bigint").alias("amt_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Changelog-consuming WINDOW aggregate (round 10) — the table-runtime
# WindowOperator (WindowOperator.java:341-391) under the hash gate. The
# input changelog is closed-form: every event inserts its fact (+I at
# oseq 2rn) and every third event (event_id % 3 == 0) is later fully
# retracted (-D at oseq 2rn+1), so the fired windows equal a plain
# GROUP BY over the never-retracted facts — except that fully-drained
# windows still fire with COUNT 0 / NULL sums (emitWindowResult has no
# emptiness check), which the oracle's GROUP BY reproduces because the
# retracted facts keep their group row alive. Batch route = the same
# per-window accumulate/retract processor with the end-of-input
# watermark. Scale: one keyed shuffle; state = open windows only.
# ---------------------------------------------------------------------------
@query(
    "q_changelog_window_agg",
    """
    WITH f AS (
      SELECT user_id, event_id,
             CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) AS DOUBLE) AS t,
             CAST(FLOOR(value * 100) AS DOUBLE) AS amt,
             (event_id % 3 = 0) AS retr
      FROM events
    )
    SELECT user_id,
           CAST(FLOOR(t / 3600) * 3600 AS BIGINT) AS ws,
           CAST(FLOOR(t / 3600) * 3600 + 3600 AS BIGINT) AS we,
           '+I' AS _change_type,
           CAST(SUM(CASE WHEN retr THEN 0 ELSE 1 END) AS BIGINT) AS cnt,
           CAST(SUM(CASE WHEN NOT retr THEN amt END) AS DOUBLE) AS amt_sum,
           CAST(MAX(CASE WHEN NOT retr THEN amt END) AS DOUBLE) AS amt_max
    FROM f
    GROUP BY user_id, FLOOR(t / 3600)
    ORDER BY user_id, ws
    """,
)
def q_changelog_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog

    base = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").cast("double").alias("t"),
        F.floor(F.col("value") * 100).cast("double").alias("amt"),
    )
    # Same changelog, one map-only pass: the old ROW_NUMBER window +
    # self-union ran the scan+Exchange+Sort+Window subtree TWICE and
    # shuffled a synthetic oseq column (plans/r13/..._before.txt); oseq's
    # only job was replay order ins@2rn / del@2rn+1 with rn ranked by
    # (t, event_id) — exactly (t, event_id, '+I'<'-D') order, which the
    # operator's composite order_by replays directly (guide §2.4: remove
    # shuffles outright; §2.3: shuffle fewer bytes). The explode emits
    # the -D copy right where the union's second branch did.
    rec = base.select(
        "user_id", "event_id", "t", "amt",
        F.explode(
            F.when(
                F.col("event_id") % 3 == 0, F.array(F.lit("+I"), F.lit("-D"))
            ).otherwise(F.array(F.lit("+I")))
        ).alias("_change_type"),
    )
    out = window_agg_changelog(
        rec,
        "user_id",
        "t",
        {"cnt": ("count", None), "amt_sum": ("sum", "amt"), "amt_max": ("max", "amt")},
        size=3600.0,
        order_by=["t", "event_id", "_change_type"],
    )
    return out.select(
        "user_id",
        F.col("window_start").cast("bigint").alias("ws"),
        F.col("window_end").cast("bigint").alias("we"),
        "_change_type",
        "cnt",
        "amt_sum",
        F.col("amt_max").cast("double").alias("amt_max"),
    )


# ---------------------------------------------------------------------------
# Retractable streaming Top-N (round 10) — RetractableTopNFunction.java
# under the hash gate. The changelog inserts every event and later fully
# retracts every third one, so the operator's final rank table (its
# emission stream materialized per (user, rank) slot by
# changelog_normalize — vacated slots end on -D and drop) equals
# ROW_NUMBER() over the never-retracted facts. The sort key
# (amt DESC, event_id ASC) is unique, so arrival-order ties never
# arbitrate the oracle. All intermediate up/downgrade churn must net
# out exactly for the hash to match — this gates the emission logic,
# not just the final sort. Scale: one keyed shuffle; emission is
# O(rank shifts) — the operator's contractual output.
# ---------------------------------------------------------------------------
@query(
    "q_retractable_topn",
    """
    WITH f AS (
      SELECT user_id, event_id, CAST(FLOOR(value * 100) AS BIGINT) AS amt
      FROM events
      WHERE event_id % 3 <> 0
    ),
    r AS (
      SELECT user_id, event_id, amt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY amt DESC, event_id ASC) AS rank_num
      FROM f
    )
    SELECT user_id, CAST(rank_num AS BIGINT) AS rank_num, event_id, amt
    FROM r WHERE rank_num <= 3
    ORDER BY user_id, rank_num
    """,
)
def q_retractable_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.operators.changelog import changelog_normalize
    from reshape_on_flink_spark.streaming.changelog import retractable_topn

    base = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("amt"),
    )
    # one map-only changelog pass instead of window + self-union: oseq
    # ranked by event_id alone, so (event_id, '+I'<'-D') IS the replay
    # order — no ROW_NUMBER pass, no doubled shuffle (guide §2.4)
    rec = base.select(
        "user_id", "event_id", "amt",
        F.explode(
            F.when(
                F.col("event_id") % 3 == 0, F.array(F.lit("+I"), F.lit("-D"))
            ).otherwise(F.array(F.lit("+I")))
        ).alias("_change_type"),
    )
    out = retractable_topn(
        rec,
        "user_id",
        [("amt", "desc"), ("event_id", "asc")],
        rank_end=3,
        output_rank_number=True,
        order_by=["event_id", "_change_type"],
    )
    final = changelog_normalize(out, ["user_id", "rank_num"], "_change_seq")
    return final.select("user_id", "rank_num", "event_id", "amt")


# ---------------------------------------------------------------------------
# Updatable streaming Top-N (round 10) — UpdatableTopNFunction.java under
# the hash gate. Upsert changelog: every event inserts at its base amt;
# every third event later UPGRADES (+U) to amt+100000 — rank-improving
# only, the operator's monotonicity contract (sort desc, update mono
# increasing). The final rank table (rank slots only ever fill — rows
# improve, none retract — so changelog_normalize per (user, rank) keeps
# each slot's last occupant) equals ROW_NUMBER over the LATEST version
# of each row. Rows trimmed from the O(N) state re-enter through the
# buffer-range check when their upgrade lands — that path is exercised
# wherever the upgrade overtakes rows that had pushed it out.
# ---------------------------------------------------------------------------
@query(
    "q_updatable_topn",
    """
    WITH f AS (
      SELECT user_id, event_id,
             CAST(FLOOR(value * 100) AS BIGINT)
               + CASE WHEN event_id % 3 = 0 THEN 100000 ELSE 0 END AS amt
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, amt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY amt DESC, event_id ASC) AS rank_num
      FROM f
    )
    SELECT user_id, CAST(rank_num AS BIGINT) AS rank_num, event_id, amt
    FROM r WHERE rank_num <= 3
    ORDER BY user_id, rank_num
    """,
)
def q_updatable_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.operators.changelog import changelog_normalize
    from reshape_on_flink_spark.streaming.changelog import updatable_topn

    base = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("amt"),
    )
    # one map-only changelog pass instead of window + self-union: the
    # upgrade (+U, amt+100000) replays right after its own insert, i.e.
    # (event_id, '+I'<'+U') order — inline() emits both versions without
    # a ROW_NUMBER pass or doubled shuffle (guide §2.4)
    _ins = F.struct(
        F.col("event_id"), F.col("amt"), F.lit("+I").alias("_change_type")
    )
    _up = F.struct(
        F.col("event_id"),
        (F.col("amt") + 100000).alias("amt"),
        F.lit("+U").alias("_change_type"),
    )
    rec = base.select(
        "user_id",
        F.inline(
            F.when(F.col("event_id") % 3 == 0, F.array(_ins, _up)).otherwise(
                F.array(_ins)
            )
        ),
    )
    out = updatable_topn(
        rec,
        "user_id",
        "event_id",
        [("amt", "desc"), ("event_id", "asc")],
        rank_end=3,
        output_rank_number=True,
        order_by=["event_id", "_change_type"],
    )
    final = changelog_normalize(out, ["user_id", "rank_num"], "_change_seq")
    return final.select("user_id", "rank_num", "event_id", "amt")


# ---------------------------------------------------------------------------
# Changelog-consuming SESSION window aggregate (round 10) —
# SessionWindowAssigner + MergingWindowProcessFunction.java:74-96 under
# the hash gate. Retractions subtract from the merged session's
# accumulators but never shrink its extent (no un-merge), and since a
# well-formed retraction replays an inserted timestamp, the session
# extents equal the classic gaps-and-islands over the INSERT rows —
# while the aggregates cover only the never-retracted facts, with
# fully-drained sessions still firing (COUNT 0 / NULL sums). Events
# whose per-user spacing exceeds 1800s start a new island (t - prev >
# gap; touching is boundary-inclusive so = gap stays merged).
# ---------------------------------------------------------------------------
@query(
    "q_changelog_session_agg",
    """
    WITH f AS (
      SELECT user_id, event_id,
             CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) AS DOUBLE) AS t,
             CAST(FLOOR(value * 100) AS DOUBLE) AS amt,
             (event_id % 3 = 0) AS retr
      FROM events
    ),
    s AS (
      SELECT *, CASE WHEN t - LAG(t) OVER w > 1800 THEN 1 ELSE 0 END AS brk
      FROM f
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    g AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT user_id,
           CAST(MIN(t) AS BIGINT) AS ws,
           CAST(MAX(t) + 1800 AS BIGINT) AS we,
           '+I' AS _change_type,
           CAST(SUM(CASE WHEN retr THEN 0 ELSE 1 END) AS BIGINT) AS cnt,
           CAST(SUM(CASE WHEN NOT retr THEN amt END) AS DOUBLE) AS amt_sum,
           CAST(MAX(CASE WHEN NOT retr THEN amt END) AS DOUBLE) AS amt_max
    FROM g
    GROUP BY user_id, sid
    ORDER BY user_id, ws
    """,
)
def q_changelog_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reshape_on_flink_spark.streaming.changelog import window_agg_changelog

    base = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").cast("double").alias("t"),
        F.floor(F.col("value") * 100).cast("double").alias("amt"),
    )
    # one map-only changelog pass instead of window + self-union — same
    # restructure as q_changelog_window_agg (see that query's comment)
    rec = base.select(
        "user_id", "event_id", "t", "amt",
        F.explode(
            F.when(
                F.col("event_id") % 3 == 0, F.array(F.lit("+I"), F.lit("-D"))
            ).otherwise(F.array(F.lit("+I")))
        ).alias("_change_type"),
    )
    out = window_agg_changelog(
        rec,
        "user_id",
        "t",
        {"cnt": ("count", None), "amt_sum": ("sum", "amt"), "amt_max": ("max", "amt")},
        gap=1800.0,
        order_by=["t", "event_id", "_change_type"],
    )
    return out.select(
        "user_id",
        F.col("window_start").cast("bigint").alias("ws"),
        F.col("window_end").cast("bigint").alias("we"),
        "_change_type",
        "cnt",
        "amt_sum",
        F.col("amt_max").cast("double").alias("amt_max"),
    )
