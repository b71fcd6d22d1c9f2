"""Session facade — the engine's equivalent of Flink's TableEnvironment.

Reference parity: ``TableEnvironmentImpl.executeSql``
(flink-table/flink-table-api-java/.../TableEnvironmentImpl.java:723) and
``StreamExecutionEnvironment`` (flink-streaming-java/.../StreamExecutionEnvironment.java).
Here both collapse onto one SparkSession: `spark.sql` is the SQL entry,
DataFrames are the fluent entry, and Catalyst replaces the Blink planner.

Scale defaults (tuned for the 100 TB target, harmless at test SF):

- AQE on, with partition coalescing and skew-join splitting: this is the
  batch half of the reference's Reshape mechanism (SURVEY.md §0.5) — Spark
  re-plans skewed shuffle partitions at runtime instead of rerouting records.
- ``spark.sql.shuffle.partitions`` is a *starting* parallelism; AQE coalesces
  batch shuffles down and skew-splits them up, so one number serves sf0.001
  through 100 TB. It starts at the task slots (see get_spark).
- Arrow enabled for every Python<->JVM hop (pandas UDFs, toPandas).
- Session timezone pinned to UTC so event-time semantics are absolute.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: ``spark.sql.codegen.cache.maxEntries`` for sessions built by
#: get_spark. Spark's default of 100 generated classes is smaller than
#: the working set of two alternating queries such as the changelog
#: join replay and the coreness fixed point: at 100 the LRU evicts each
#: query's classes on every pass, so each run recompiles them through
#: Janino and warms them in the JIT again (33-37 ``GeneratedClass``
#: methods per changelog run at sf0.01). Static: a caller-provided
#: session keeps 100 (ensure_confs).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "reshape_on_flink_spark",
    *,
    cores: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``local[N]`` for tests; on a real cluster the same config block applies —
    nothing here is local-mode-specific except the master URL.
    ``extra_confs`` are applied at builder time (context-static settings
    like the shuffle codec need this; measurement sweeps use it).

    The Python workers start from :mod:`reshape_on_flink_spark.pydaemon`
    (``spark.python.daemon.module``) and get the package's parent
    directory prepended to their ``PYTHONPATH``
    (``spark.executorEnv.PYTHONPATH``, ahead of any value in
    ``extra_confs``), so the daemon and UDFs that pickle engine helpers
    by reference import the package whatever the driver's cwd. On a
    cluster the executors' Python must be able to import the package,
    as the engine's UDFs already required.

    One wave per stage: ``spark.sql.shuffle.partitions`` and
    ``spark.default.parallelism`` are the task slots (``cores``), not
    more. AQE coalesces a batch shuffle by bytes whatever its starting
    width, but a streaming query fixes its state partitions from
    ``spark.sql.shuffle.partitions`` when it starts and never coalesces
    them, so every micro-batch of an ``applyInPandasWithState`` stage
    (the changelog operators' keyed replay) runs exactly that many
    tasks. Each pays a fixed cost whatever its input (Python worker,
    state-store load and commit: 0.25-0.46 s per task on a 4-core box),
    so a width above the slots buys no parallelism, only a second wave
    of that cost: on 4 slots the changelog join's stateful stage takes
    0.82-1.13 s per micro-batch at 8 state partitions and 0.56-0.71 s
    at 4. The small-input floor of the Python stages
    (:data:`PYTHON_STAGE_MIN_PARTITIONS`) keeps the same rule.
    """
    cores = cores or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        # --- AQE: the batch skew layer (Reshape-equivalent) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- joins: allow shuffled-hash where its size conditions fit
        # (guide §3.1/§9) — measured round 14 on the sf1 probe, 3-rep
        # min per variant, own session each: total 24.41 s vs 26.59 s
        # base (q5 1.71x, q10 1.27x, q_corpus_assembly 1.18x,
        # q_agg_distinct 1.15x, no query below 1.01x); the zstd shuffle
        # codec measured NULL on the same probe (26.41 s, mixed signs)
        # and stays default lz4. Explicit merge hints (bucketed-join
        # paths) still win over the preference. ---
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # --- deterministic cross-engine comparison ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- Python boundary is always Arrow ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet pushdown is default-on; keep explicit so a future config
        # sweep can't silently disable the scan-level filters
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture `events.ts` is parquet TIMESTAMP(NANOS); Spark 4 has no ns
        # type, so read as int64 ns and normalize in load_tables()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixture timestamps are parquet TIMESTAMP(isAdjustedToUTC=false);
        # Spark 4 would infer TIMESTAMP_NTZ, which unix_micros()/watermarks
        # reject — read them as TimestampType (UTC session ⇒ identical wall
        # clock to DuckDB's naive timestamps)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # --- Python workers fork from a daemon that pays the CPython
        # 3.11 zipimport re-read once, not once per task (pydaemon.py) ---
        .config("spark.python.daemon.module", "reshape_on_flink_spark.pydaemon")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cores}]")
    confs = dict(extra_confs or {})
    # the Python workers import this package (the daemon, engine helpers
    # pickled by reference) whatever the driver's cwd
    path_key = "spark.executorEnv.PYTHONPATH"
    confs[path_key] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, confs.get(path_key)) if p
    )
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Target input bytes per Python-stage task (optimizer estimate — for
#: parquet-backed inputs that is COMPRESSED bytes, ~5-10x denser than
#: the in-flight rows). Python keyed stages cost per ROW, not per byte,
#: so this sits far below the JVM advisory partition size (256 MB): the
#: r13 scaling block measured the CEP/changelog family ~MIN at an
#: 8-way fan-out of the ~1.5-2 MB sf0.1 estimates, i.e. ~256 KiB of
#: estimate per task. Env-overridable for cluster tuning.
PYTHON_STAGE_TASK_BYTES = int(
    os.environ.get("RESHAPE_PY_STAGE_TASK_BYTES", 256 * 1024)
)

#: Never cap the fan-out below this many partitions (or below the
#: scheduler's task slots, if there are fewer): a wrong-low optimizer
#: estimate (post-filter selectivity guesses) must not serialize a
#: genuinely heavy Python stage — 1-2 partitions is the exact failure
#: the pin exists to prevent. The floor is ``min(this, task_slots)`` by
#: the one-wave rule of :func:`get_spark`: every Python task pays a
#: fixed worker setup cost whatever its input, about 0.07 s per task
#: for a trivial ``mapInPandas`` on a 4-core box now that the CPython
#: 3.11 zipimport re-read is paid once per worker daemon
#: (:mod:`reshape_on_flink_spark.pydaemon`), so tasks beyond the slots
#: only add a second wave of it.
PYTHON_STAGE_MIN_PARTITIONS = int(
    os.environ.get("RESHAPE_PY_STAGE_MIN_PARTITIONS", 8)
)

#: SparkContext -> its concurrent task slots, read once (task_slots).
_TASK_SLOTS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def task_slots(spark: SparkSession) -> int:
    """The scheduler's concurrent task slots: N under ``local[N]``, the
    registered executors' total cores (over ``spark.task.cpus``) on a
    cluster. Read once per SparkContext; 0 — no executor registered
    yet — is returned but not remembered."""
    sc = spark.sparkContext
    n = _TASK_SLOTS.get(sc)
    if n is None:
        jsc = sc._jsc.sc()
        n = int(jsc.maxNumConcurrentTasks(
            jsc.resourceProfileManager().defaultResourceProfile()
        ))
        if n > 0:
            _TASK_SLOTS[sc] = n
    return n


def repartition_for_python_stage(
    df: DataFrame, cols, *, task_bytes: int | None = None
) -> DataFrame:
    """Hash-repartition ``df`` by ``cols`` with an EXPLICIT partition
    count for a downstream Python stage (``applyInPandas`` /
    ``mapInPandas`` keyed scans).

    Why explicit: AQE's partition coalescing sizes post-shuffle
    partitions by BYTES (``advisoryPartitionSizeInBytes`` /
    ``minPartitionSize``) — the right proxy for JVM operators, but a
    Python replay/NFA stage's cost is per ROW (orders of magnitude more
    CPU per byte), so a few-MB keyed shuffle coalesces to 1-2 partitions
    and the whole Python stage serializes onto 1-2 cores (measured:
    ``repartition("user_id")`` ran the pandas scan on ONE partition at
    sf0.1; pinning restored full parallelism — optimization guide §2.2/
    §4). Spark leaves user-pinned ``repartition(n, cols)`` alone, and a
    following ``groupBy(cols)`` reuses the partitioning (no second
    exchange).

    The count follows ``spark.sql.shuffle.partitions`` — the
    deployment's configured starting parallelism (set per cluster; the
    local default tracks $SPARK_GRAFT_CPUS) — NOT a hard-coded local
    constant. Stages whose per-partition FIXED cost dominates at small
    inputs (round 14, verdict item 6: the CEP scans — per-partition
    plan/flag/numpy setup, measured 1.2-1.9x faster at sf0.1 when the
    fan-out tracks input size) pass ``task_bytes`` to additionally cap
    the width at ``ceil(estimated_bytes / task_bytes)``, floored at
    ``min(PYTHON_STAGE_MIN_PARTITIONS, task_slots(spark))``, so a small
    stage runs in one wave (the one-wave rule of :func:`get_spark`;
    see :data:`PYTHON_STAGE_MIN_PARTITIONS`). The cap self-removes at scale
    (a 10x input estimate re-opens the full configured width) and on
    estimate failure (unknown/huge sizeInBytes ⇒ full width), so it is
    a small-input overhead bound, not a parallelism limit. Stages whose
    per-ROW cost dominates (the changelog replay processors — the only
    bench entries that SCALE with cores in the r13 driver's 8-vs-32
    block, and measured 0.6-0.8x under a forced cap) keep the full
    width: leave ``task_bytes`` None. Empty partitions (fewer live keys
    than N) cost only task launches; per-key skew inside a Python stage
    is bounded by the largest single key either way.
    """
    from pyspark.sql import functions as F

    cols = [cols] if isinstance(cols, str) else list(cols)
    n = python_stage_width(df, task_bytes=task_bytes)
    return df.repartition(n, *[F.col(c) for c in cols])


def python_stage_width(df: DataFrame, *, task_bytes: int | None = None) -> int:
    """The partition count :func:`repartition_for_python_stage` would
    pin for ``df`` — exposed so CO-GROUPED stages can size BOTH inputs
    with one width (mismatched widths make EnsureRequirements re-shuffle
    one side: an extra exchange, measured in the r14 skip plan)."""
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n = spark.sparkContext.defaultParallelism
    if task_bytes:
        try:
            est = int(
                str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
        except Exception:
            est = 0  # no estimate -> keep the configured width
        if 0 < est < n * task_bytes:
            floor = min(
                PYTHON_STAGE_MIN_PARTITIONS,
                task_slots(spark) or PYTHON_STAGE_MIN_PARTITIONS,
            )
            n = min(n, max(floor, -(-est // task_bytes)))
    return n


class EngineSession:
    """Thin TableEnvironment-style facade over a SparkSession.

    Registers the fixture tables as temp views and exposes ``sql`` /
    ``table``; everything else is plain DataFrame API on ``self.spark``.
    """

    TABLES = (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )

    def __init__(self, spark: SparkSession | None = None, data_dir: str | None = None):
        self.spark = spark or get_spark()
        self.data_dir = data_dir
        if data_dir:
            self.register_dir(data_dir)

    def register_dir(self, data_dir: str) -> None:
        """Register every fixture parquet in ``data_dir`` as a temp view.

        Parquet carries its own schema (no inference); scans stay lazy, so
        registration is free and Catalyst prunes columns/filters per query.
        """
        self.data_dir = data_dir
        ensure_confs(self.spark)
        for name in self.TABLES:
            path = os.path.join(data_dir, f"{name}.parquet")
            if os.path.exists(path):
                _normalize(name, self.spark.read.parquet(path)).createOrReplaceTempView(name)

    def sql(self, statement: str) -> DataFrame:
        """SQL entry point (reference: TableEnvironmentImpl.executeSql:723)."""
        return self.spark.sql(statement)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs the engine relies on.

    Called from every table-loading path so the engine behaves the same on
    a caller-provided session (e.g. the driver's vanilla SparkSession) as
    on one built by get_spark(). The Python worker daemon is the one
    exception: ``spark.python.daemon.module`` is static, so a
    caller-provided session keeps ``pyspark.daemon`` and its Python
    tasks, still correct, pay the CPython 3.11 zipimport re-read per
    task (see :data:`PYTHON_STAGE_MIN_PARTITIONS`). The codegen cache
    size is static too: such a session keeps Spark's 100 entries
    instead of :data:`CODEGEN_CACHE_ENTRIES`, so queries that alternate
    recompile their generated classes more often. Such a session also
    keeps its own ``spark.sql.shuffle.partitions`` (Spark's default is
    200), which is left as the caller set it: batch shuffles still
    coalesce under AQE, but a stateful stream started on it fixes that
    many state partitions at query start, so each micro-batch of its
    keyed-state stage runs 200 tasks instead of one wave of the task
    slots (see :func:`get_spark`).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    return spark


def _normalize(name: str, df: DataFrame) -> DataFrame:
    """Fixture-schema normalization.

    ``events.ts`` arrives as int64 nanoseconds (see nanosAsLong in
    get_spark); convert to TimestampType by truncating to microseconds —
    the same truncation DuckDB's ns->us cast performs, keeping the two
    engines' event times identical.
    """
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


class _LazyTables:
    """Mapping of table name -> DataFrame that defers the (footer-reading)
    ``spark.read.parquet`` until a table is actually requested, and caches
    the resulting plan. Queries touch 1-6 of the 10 fixture tables; eager
    loading added ~0.5s of schema RPCs to every query invocation."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._cache:
            path = os.path.join(self._sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                raise KeyError(name)
            self._cache[name] = _normalize(name, self._spark.read.parquet(path))
        return self._cache[name]

    def __contains__(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._sf_dir, f"{name}.parquet"))

    def keys(self) -> list[str]:
        return sorted(
            f[: -len(".parquet")]
            for f in os.listdir(self._sf_dir)
            if f.endswith(".parquet")
        )

    def items(self):
        return ((name, self[name]) for name in self.keys())


_TABLES_MEMO: dict[tuple[int, str], _LazyTables] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> _LazyTables:
    """Fixture tables keyed by name — lazy per-table reads, memoized per
    (session, dir) so repeated query invocations share the scan plans."""
    ensure_confs(spark)
    key = (id(spark), sf_dir)
    if key not in _TABLES_MEMO:
        _TABLES_MEMO[key] = _LazyTables(spark, sf_dir)
    return _TABLES_MEMO[key]
