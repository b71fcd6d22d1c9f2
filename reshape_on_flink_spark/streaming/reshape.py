"""Reshape-equivalent adaptive skew handling for streaming aggregation.

Reference (the fork's signature mechanism, SURVEY.md §0):
``flink-runtime/src/main/scala/org/apache/flink/runtime/reshape/
ControllerSimulator.scala`` — a JobMaster timer that, every ``reshapeFreq``
ms, marks subtasks with busyRatio > ``hiThreshold`` as skewed and
< ``loThreshold`` as helpers, pairs them stickily, and instructs upstream
writers (``WorkerSimulator.scala:22-42``) to reroute the first
``toHelper`` of every ``toAll`` records; the reroute ratio is fixed at 90%
for the first ``firstPhaseNum`` iterations, then adapts to equalize
cumulative input counts (``ControllerSimulator.scala:133-143``).

Spark re-expression
-------------------
Spark cannot reroute records of a running stage, and the reference's
reroute is *routing-only* — rerouted keyed records land on workers that
don't own their key group, so keyed aggregation results are only exact if
someone later merges (the repo never does; SURVEY.md §0.5). This engine
keeps the control loop but makes the mechanism exact:

- **detect**: per micro-batch, measure per-key load (row counts — the
  micro-batch analog of busyRatio: a key whose share exceeds
  ``hiThreshold × batch/parallelism`` would saturate one task).
- **mitigate**: the operator is a keyed process stage
  (``keyed_process_agg``, the keyed-stream analog: every raw record of a
  key reaches one task). Hot keys split into ``n_salts`` salted sub-keys
  (*the reroute*), each sub-key is processed partially, then the
  partials are **merged** per key (*the stage the reference omits*), so
  results are exact. Combinable streaming aggregates (count/sum over a
  ``groupBy``) need no controller: Spark's map-side partial aggregation
  already bounds every reducer's work, so they go through
  ``attach_upsert`` with a plain ``groupBy``.
- **two-phase schedule**: a fresh hot key starts at the aggressive
  first-phase salt fan-out (90% reroute ≈ split into
  ``1/(1-firstPhaseRatio) = 10`` sub-keys) for ``firstPhaseNum``
  controller iterations, then adapts: salts sized to the key's measured
  excess over the mean task load (the count-equalizing ratio of
  ``ControllerSimulator.scala:140-142``). Keys cool down and are dropped
  when their load falls below ``loThreshold ×`` the per-task mean —
  mirroring the cancel-when-caught-up rule (``:111-118``).
- **sticky**: salt assignments persist across iterations
  (``prevSkewedHelperPairs`` analog) so state keys stay stable.

Batch queries don't need any of this: AQE skew-join/partition splitting
(`spark.sql.adaptive.*`, on by default in session.py) is the built-in
equivalent.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

#: Upper bound on a hot key's salted sub-keys in the adaptive phase.
MAX_SALTS = 64


@dataclass
class ReshapeConf:
    """Mirrors the reference's knobs (README.md:15-23 of the reference)."""

    enabled: bool = False  # enableReShape: off unless asked for
    hi_threshold: float = 0.8  # hiThreshold: key share of task capacity => skewed
    lo_threshold: float = 0.2  # loThreshold: cool-down share
    freq_ms: int = 10_000  # reshapeFreq: controller iteration period
    first_phase_num: int = 6  # firstPhaseNum: iterations at fixed ratio
    first_phase_ratio: float = 0.9  # reroute 90 of every 100 records
    parallelism: int = 32  # stand-in for subtask count

    @classmethod
    def from_spark_conf(cls, spark) -> "ReshapeConf":
        """Read the ``spark.reshape.*`` keys; an unset key keeps the
        field default above."""
        d = cls()
        g = spark.conf.get
        return cls(
            enabled=g("spark.reshape.enabled", str(d.enabled)).lower() == "true",
            hi_threshold=float(g("spark.reshape.hiThreshold", str(d.hi_threshold))),
            lo_threshold=float(g("spark.reshape.loThreshold", str(d.lo_threshold))),
            freq_ms=int(g("spark.reshape.freqMs", str(d.freq_ms))),
            first_phase_num=int(g("spark.reshape.firstPhaseNum", str(d.first_phase_num))),
            first_phase_ratio=float(
                g("spark.reshape.firstPhaseRatio", str(d.first_phase_ratio))
            ),
        )


@dataclass
class _HotKey:
    salts: int
    iterations: int = 0  # controller iterations since detection


@dataclass
class ReshapeController:
    """Driver-side feedback controller (the ControllerSimulator analog).

    Holds the sticky hot-key -> salt-count routing table and updates it
    from per-key load samples at most once per ``freq_ms``.
    """

    conf: ReshapeConf
    hot_keys: dict = field(default_factory=dict)  # key value -> _HotKey
    iterations: int = 0  # observe() calls past the freq_ms rate limit
    _last_update: float = 0.0

    def routing(self) -> dict:
        return {k: hk.salts for k, hk in self.hot_keys.items()}

    def due(self) -> bool:
        """True if the next observe() would run (freq_ms window elapsed).

        Callers that must pay a Spark job to produce the load sample
        (``observe_candidates``) check this first so rate-limited ticks
        cost nothing — the ControllerSimulator analog only samples
        busyRatio once per ``reshapeFreq`` too.
        """
        return not self._last_update or (time.monotonic() - self._last_update) * 1000 >= self.conf.freq_ms

    def observe(self, key_counts: dict[object, int], total_rows: int) -> None:
        """One controller iteration (rate-limited to freq_ms).

        ``key_counts`` need not be the full per-key histogram: only keys
        above ``lo_threshold × task_mean`` plus currently-tracked hot
        keys influence any branch below, so callers may (and at scale
        MUST) pre-filter to that bounded candidate set — see
        ``observe_candidates``. Tracked keys absent from ``key_counts``
        cool down exactly as if they had count 0.
        """
        if not self.due():
            return
        self._last_update = time.monotonic()
        self.iterations += 1
        if total_rows <= 0:
            return
        task_mean = total_rows / self.conf.parallelism
        first_phase_salts = max(2, round(1.0 / (1.0 - self.conf.first_phase_ratio)))

        for key, count in key_counts.items():
            if key in self.hot_keys:
                hk = self.hot_keys[key]
                hk.iterations += 1
                if count < self.conf.lo_threshold * task_mean:
                    # caught up: cancel mitigation (ControllerSimulator:111-118)
                    del self.hot_keys[key]
                elif hk.iterations >= self.conf.first_phase_num:
                    # adaptive phase: size the split to the measured excess
                    # (count-equalizing ratio, ControllerSimulator:140-142)
                    hk.salts = int(min(MAX_SALTS, max(2, math.ceil(count / task_mean))))
            elif count > self.conf.hi_threshold * task_mean:
                # newly skewed: aggressive first phase
                self.hot_keys[key] = _HotKey(salts=first_phase_salts)

        # keys that vanished from the batch cool down too
        for key in list(self.hot_keys):
            if key not in key_counts:
                del self.hot_keys[key]


def keyed_process_agg(
    df: DataFrame,
    key_col: str,
    value_col: str,
    routing: dict,
    spread_col: str,
) -> DataFrame:
    """Exact per-key (key, cnt, sum_value) through a keyed PROCESS stage
    (``applyInPandas``) under a salt routing table: the one operator the
    Reshape controller steers.

    A Flink keyed stream ships every raw record of a key to one subtask
    that does per-record work (``WorkerSimulator.scala:22-42``: the
    reroute redirects that record flow). Spark's analog is a custom keyed
    stage, which Spark never map-side combines: every record crosses the
    shuffle keyed by ``key_col`` and one task processes the whole hot
    group, so a hot key serializes a reducer. Keys in ``routing`` (key ->
    n_salts) split into sub-keys ``hash(spread_col) pmod n_salts``; each
    sub-key is processed partially and the partials are merged per key,
    so the result is exact. ``spread_col`` must be high-cardinality
    (event id, payload hash); the salt is deterministic, so replays route
    identically (exactly-once safe). An empty routing runs the plain
    keyed stage. Benched as ``skew_process_plain`` vs
    ``skew_process_reshape``.

    Combinable aggregates (count/sum over a ``groupBy``) do not belong
    here: Spark's map-side partial aggregation already gives each
    reducer at most one partial row per (key, map partition), so no skew
    survives the shuffle and salting only adds cost. Stream them through
    ``attach_upsert`` with a plain ``groupBy``.

    Both the plain and the salted keyed stage are size-capped
    (``task_bytes=PYTHON_STAGE_TASK_BYTES``, like the CEP scans): the
    Python work per group is two pandas calls (``len``, ``sum``), so on
    a streaming micro-batch the stage's cost is the fixed per-task
    worker setup, not a per-row replay: about 0.07 s per task on 4
    cores, now that the CPython 3.11 zipimport re-read is paid once per
    worker daemon (``session.PYTHON_STAGE_MIN_PARTITIONS``). Pinned to
    ``spark.sql.shuffle.partitions`` every micro-batch would pay that
    setup once per configured partition (200 on a caller's vanilla
    session); capped, a small micro-batch runs in one wave of at most
    ``task_slots`` tasks. A large micro-batch's estimate re-opens the
    configured width, so salting still spreads a hot key over reducers
    at scale.
    """
    import pandas as pd

    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, cnt long, sum_value double"

    def agg_fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame({
            key_col: [pdf[key_col].iloc[0]],
            "cnt": [len(pdf)],
            "sum_value": [float(pdf[value_col].sum())],
        })

    from reshape_on_flink_spark.session import (
        PYTHON_STAGE_TASK_BYTES,
        repartition_for_python_stage,
    )

    if not routing:
        return (
            repartition_for_python_stage(
                df, key_col, task_bytes=PYTHON_STAGE_TASK_BYTES
            )
            .groupBy(key_col)
            .applyInPandas(agg_fn, out_schema)
        )

    salt_map = F.create_map(
        *[x for k, n in routing.items() for x in (F.lit(k), F.lit(int(n)))]
    )
    n_salts = F.coalesce(salt_map[F.col(key_col)], F.lit(1))
    partial_schema = f"{key_col} {key_type}, _salt int, cnt long, sum_value double"

    def partial_fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame({
            key_col: [pdf[key_col].iloc[0]],
            "_salt": [int(pdf["_salt"].iloc[0])],
            "cnt": [len(pdf)],
            "sum_value": [float(pdf[value_col].sum())],
        })

    partial = (
        repartition_for_python_stage(
            df.withColumn("_salt", F.pmod(F.hash(F.col(spread_col)), n_salts)),
            [key_col, "_salt"],
            task_bytes=PYTHON_STAGE_TASK_BYTES,
        )
        .groupBy(key_col, "_salt")
        .applyInPandas(partial_fn, partial_schema)
    )
    # merge: at most MAX_SALTS tiny partial rows per key — the exactness
    # stage the reference omits (SURVEY.md §0.5); relational here because
    # the record flow is already collapsed
    return partial.groupBy(key_col).agg(
        F.sum("cnt").alias("cnt"), F.sum("sum_value").alias("sum_value")
    )


def observe_candidates(
    merged: DataFrame,
    key_col: str,
    conf: ReshapeConf,
    tracked: dict,
    total: int | None = None,
) -> tuple[int, dict]:
    """Distributed, bounded per-key load sample for the controller.

    Input is the *merged* per-key aggregate of the current micro-batch
    (one row per key, ``cnt`` column), i.e. the result the pipeline
    computes anyway. Returns ``(total_rows, candidates)`` where
    candidates holds only keys that can influence the controller:

    - keys with ``cnt > lo_threshold × task_mean`` (every possible new
      hot key — hi_threshold ≥ lo_threshold — and every tracked key
      still above its cool-down bar), plus
    - currently ``tracked`` hot keys regardless of count (so cool-down
      sees their true low count instead of a phantom absence).

    The collect is bounded by ``parallelism / lo_threshold + |tracked|``
    rows (at most that many keys can exceed ``lo × total/parallelism``),
    independent of key cardinality — the full histogram never reaches
    the driver. This is what makes the control loop viable at 100 TB:
    the reference's controller likewise receives only per-*subtask*
    busyRatios (O(parallelism)), never per-key stats.

    ``total`` is the sum of ``cnt`` when the caller already has it (an
    ``Observation`` on the write that produced ``merged``); None sums it
    with a Spark job of its own.
    """
    if total is None:
        total = merged.agg(F.sum("cnt").alias("t")).collect()[0]["t"] or 0
    if total <= 0:
        return 0, {}
    floor = conf.lo_threshold * (total / conf.parallelism)
    cond = F.col("cnt") > F.lit(floor)
    if tracked:
        cond = cond | F.col(key_col).isin(list(tracked))
    rows = merged.filter(cond).select(key_col, "cnt").collect()
    return int(total), {r[key_col]: r["cnt"] for r in rows}


class PartialUpsertSink:
    """Cluster-scale merge target: per-epoch partial parquet + merge-on-read.

    At 100 TB the cumulative keyed result can't live on the driver, so
    ``ReshapeStreamingAgg`` always merges into this sink. It implements
    the standard upsert pattern on plain parquet (on a real deployment
    the same calls map 1:1 onto a Delta / Iceberg ``MERGE INTO`` in
    ``foreachBatch``):

    - ``write(merged, epoch_id)``: writes the batch's merged per-key
      partials to ``partials/epoch=<id>`` with dynamic overwrite — a
      replayed epoch (failure recovery) overwrites its own directory,
      so the sink is idempotent / effectively exactly-once.
    - ``result_df()``: merge-on-read — snapshot ∪ partials, re-aggregated
      per key. Distributed; never collects.
    - ``compact()``: folds snapshot + live partials into a new
      *versioned* snapshot dir, then commits with ONE atomic
      ``os.replace`` of the ``CURRENT`` pointer file (the Iceberg
      metadata-pointer pattern). Crash at any instant leaves either the
      old committed state (all partials intact) or the new one (folded
      epochs ignored via the pointer's compacted-through watermark) —
      never a missing snapshot, never a double count. Post-commit
      cleanup is best-effort garbage collection: ``write()`` skips and
      ``result_df()`` filters out partial epochs ≤ the committed
      watermark, so leftover folded partials are inert. Called
      automatically every ``compact_every`` epochs. Cleanup spares the
      partials of epochs ``>= keep_from`` (folded, so inert, but still
      readable by ``read_epoch``): ``ReshapeStreamingAgg.process_batch``,
      the inline observer, sets it to the epoch it is writing, so the
      compaction that write triggers spares the partial the observer
      reads back right after.

    On-disk layout::

        partials/epoch=<id>/   per-epoch merged partial (idempotent)
        snapshot_v<E>/         compacted through epoch E (immutable)
        CURRENT                text "snapshot_v<E>:<E>" — the commit point
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        compact_every: int = 8,
        merge_spec: dict[str, str] | None = None,
    ):
        """``merge_spec`` maps value column -> merge fn (``sum``/``min``/
        ``max``) for re-aggregating partials; None infers ``sum`` for
        every non-key column of the first written partial. Partials must
        be merge-decomposable (count/sum/min/max are; write sum+cnt pairs
        for avg)."""
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.compact_every = compact_every
        self.merge_spec = dict(merge_spec) if merge_spec else None
        self._epochs_since_compact = 0
        # the epoch the inline observer is writing and will read back;
        # None: no observer, cleanup deletes every folded partial
        self.keep_from: int | None = None

    @property
    def _partials(self) -> str:
        return os.path.join(self.path, "partials")

    @property
    def _current(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def _load_current(self) -> tuple[str | None, int]:
        """(committed snapshot dir or None, compacted-through epoch).

        The CURRENT pointer file is the only source of truth; a snapshot
        dir not named by it does not exist as far as readers are
        concerned (it is either a crashed pre-commit attempt or
        post-commit garbage awaiting cleanup).
        """
        try:
            with open(self._current) as f:
                name, _, through = f.read().strip().partition(":")
            d = os.path.join(self.path, name)
            return (d if os.path.isdir(d) else None), int(through)
        except (OSError, ValueError):
            return None, -1

    def _compacted_through(self) -> int:
        return self._load_current()[1]

    def _partial_epochs(self) -> list[int]:
        if not os.path.isdir(self._partials):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self._partials)
            if d.startswith("epoch=")
        )

    def write(self, merged: DataFrame, epoch_id: int) -> bool:
        """Store the epoch's partial; False (nothing run) for a replay
        of an epoch already folded into the snapshot."""
        if int(epoch_id) <= self._compacted_through():
            return False
        merged.write.mode("overwrite").parquet(
            os.path.join(self._partials, f"epoch={int(epoch_id)}")
        )
        self._epochs_since_compact += 1
        if self._epochs_since_compact >= self.compact_every:
            self.compact()
        return True

    def read_epoch(self, epoch_id: int) -> DataFrame | None:
        """The merged partial a given epoch wrote, also after compaction
        folded it while ``keep_from`` spared it (None once the partial
        is gone: not written yet, or folded and garbage-collected).
        Reading the just-written small parquet back is the cheap way to
        observe per-key load without re-running the aggregation's
        lineage or persisting it."""
        d = os.path.join(self._partials, f"epoch={int(epoch_id)}")
        if not os.path.isdir(d):
            return None
        return self.spark.read.parquet(d)

    def _read_snapshot(self) -> DataFrame | None:
        snap_dir, _ = self._load_current()
        if snap_dir is None:
            return None
        return self.spark.read.parquet(snap_dir)

    def _read_live_partials(self) -> DataFrame | None:
        """Partials newer than the committed watermark (folded epochs
        left behind by a crash mid-cleanup are filtered out here)."""
        if not os.path.isdir(self._partials):
            return None
        try:
            df = self.spark.read.option("basePath", self._partials).parquet(self._partials)
        except Exception:
            return None  # empty dir
        _, through = self._load_current()
        return df.filter(F.col("epoch") > F.lit(through)).drop("epoch")

    def result_df(self) -> DataFrame:
        parts = [df for df in (self._read_snapshot(), self._read_live_partials()) if df is not None]
        if not parts:
            raise ValueError(f"no data written to {self.path} yet")
        union = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        spec = self.merge_spec or {
            c: "sum" for c in union.columns if c != self.key_col
        }
        mergers = {"sum": F.sum, "min": F.min, "max": F.max}
        return union.groupBy(self.key_col).agg(
            *[mergers[fn](c).alias(c) for c, fn in spec.items()]
        )

    def compact(self) -> None:
        old_snap, through = self._load_current()
        live_epochs = [e for e in self._partial_epochs() if e > through]
        if not live_epochs:
            return
        new_through = max(live_epochs)
        folded = self.result_df().coalesce(max(1, self.spark.sparkContext.defaultParallelism // 8))
        new_name = f"snapshot_v{new_through}"
        new_dir = os.path.join(self.path, new_name)
        shutil.rmtree(new_dir, ignore_errors=True)  # crashed prior attempt
        folded.write.mode("overwrite").parquet(new_dir)
        # the ONLY commit point: atomically repoint CURRENT. Crash before
        # this line -> old state fully intact (snapshot + all partials);
        # crash after -> new snapshot committed and every folded epoch is
        # ignored by write()/result_df() via the watermark, so the
        # cleanup below is pure garbage collection.
        tmp = self._current + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{new_name}:{new_through}")
        os.replace(tmp, self._current)
        if old_snap is not None:
            shutil.rmtree(old_snap, ignore_errors=True)
        keep_from = self.keep_from
        for e in self._partial_epochs():
            # folded now, or stale from a crashed cleanup; spared while
            # an observer has yet to read it back
            if e <= new_through and (keep_from is None or e < keep_from):
                shutil.rmtree(os.path.join(self._partials, f"epoch={e}"), ignore_errors=True)
        self._epochs_since_compact = 0


def _start_foreach_batch(stream_df: DataFrame, process, checkpoint_dir: str):
    """Drain ``stream_df`` (availableNow) through ``process(batch_df,
    epoch_id)``, checkpointed at ``checkpoint_dir``."""
    return (
        stream_df.writeStream.outputMode("update")
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def attach_upsert(
    stream_df: DataFrame,
    sink: PartialUpsertSink,
    partial_fn,
    checkpoint_dir: str,
):
    """Generic streaming-aggregation-to-upsert-sink attachment: every
    micro-batch is reduced by ``partial_fn(batch_df) -> merged partial``
    (one row per key, merge-decomposable columns) and written to the
    sink's idempotent per-epoch store. This is the cluster-scale pattern
    for ANY keyed streaming aggregate, not just the Reshape controller:
    ``sink.result_df()`` is the cumulative table, exact under replays.
    """

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sink.write(partial_fn(batch_df), epoch_id)

    return _start_foreach_batch(stream_df, process, checkpoint_dir)


class ReshapeStreamingAgg:
    """Streaming keyed aggregation with the Reshape control loop.

    Runs as ``foreachBatch``: each micro-batch goes through the keyed
    process stage ``keyed_process_agg`` under the controller's current
    (sticky) routing table and is written to the ``PartialUpsertSink``
    (per-epoch idempotent parquet upsert, merge-on-read, periodic
    compaction — the Delta-MERGE analog). The controller then observes
    per-key load inline, *from the partial that write just stored* — via
    ``observe_candidates``, so only the bounded heavy-hitter candidate
    set ever reaches the driver — and updates the routing for subsequent
    batches (rate-limited to freq_ms, two-phase schedule). Observing the
    output of the aggregation the pipeline runs anyway costs zero extra
    shuffles, and because observing and routing both run on the
    micro-batch thread, the routing table never changes while a batch
    reads it. ``routing_history`` holds the routing each batch ran
    under, one entry per batch.

    Combinable streaming aggregates do not need the controller (see
    ``keyed_process_agg``): attach them with ``attach_upsert`` and a
    plain ``groupBy``. ``engine`` is accepted only as ``"process"``, the
    one operator; any other value raises ``ValueError``.
    """

    def __init__(
        self,
        key_col: str,
        value_col: str,
        spread_col: str,
        conf: ReshapeConf,
        sink: PartialUpsertSink,
        engine: str = "process",
    ):
        if engine != "process":
            raise ValueError(f"engine must be 'process', got {engine!r}")
        self.key_col = key_col
        self.value_col = value_col
        self.spread_col = spread_col
        self.conf = conf
        self.sink = sink
        self.controller = ReshapeController(conf)
        self.routing_history: list[dict] = []

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        routing = self.controller.routing() if self.conf.enabled else {}
        self.routing_history.append(dict(routing))
        agg = keyed_process_agg(
            batch_df, self.key_col, self.value_col, routing, self.spread_col
        )
        # the idempotent upsert write materializes the merged partial
        # anyway, so the controller observes by reading that small
        # parquet back (one tiny job per tick, amortized by freq_ms; the
        # row total rides on the write as an Observation) — the
        # aggregation lineage is never re-run and nothing key-shaped
        # reaches the driver
        observe_now = self.conf.enabled and self.controller.due()
        if observe_now:
            rows_seen = Observation()
            agg = agg.observe(rows_seen, F.sum("cnt").alias("total"))
        # spare this epoch's partial from the compaction its own write
        # may trigger, so it can be read back below
        self.sink.keep_from = epoch_id
        if self.sink.write(agg, epoch_id) and observe_now:
            total, candidates = observe_candidates(
                self.sink.read_epoch(epoch_id), self.key_col, self.conf,
                self.controller.hot_keys, total=rows_seen.get["total"] or 0,
            )
            self.controller.observe(candidates, total)

    def attach(self, stream_df: DataFrame, checkpoint_dir: str):
        """Start the streaming query with this aggregator as the sink."""
        return _start_foreach_batch(stream_df, self.process_batch, checkpoint_dir)
