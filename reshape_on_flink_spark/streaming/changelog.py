"""Changelog operators — Flink's keyed changelog runtime on Spark.

Reference surface:

- ``StreamTableEnvironment.toRetractStream`` / ``toChangelogStream``
  (flink-table/flink-table-api-java-bridge/.../StreamTableEnvironment
  .java): an unbounded grouped aggregation emits, per input row, a
  retraction of its previous result (-U) and the new result (+U) —
  first results are inserts (+I). The canonical emission sequence is
  docs/content/docs/dev/table/concepts/dynamic_tables.md "Table to
  Stream Conversion" (clicks per user: Mary, Bob, Mary, Liz ->
  +I(Mary,1) +I(Bob,1) -U(Mary,1) +U(Mary,2) +I(Liz,1)).
- ``GroupAggFunction.java`` (flink-table-runtime .../aggregate/): the
  retraction-CONSUMING group aggregate — accumulators retract(-U/-D)
  and accumulate(+I/+U), emitting -D when a group's count drains to
  zero. This is what makes TWO-LEVEL aggregations correct in Flink
  (the inner agg's updates arrive as retract pairs at the outer agg).
- The other keyed changelog operators of the reference's runtime:
  ``StreamingJoinOperator``, the table ``WindowOperator``,
  ``RetractableTopNFunction``, ``UpdatableTopNFunction`` and
  ``DeduplicateFunctionHelper`` (see each operator below).

Spark-first shape: the six operators (:func:`to_retract_stream`,
:func:`join_changelog`, :func:`window_agg_changelog`,
:func:`retractable_topn`, :func:`updatable_topn`,
:func:`dedup_keep_last_changelog`) are each one per-key step on ONE
keyed replay harness, :func:`_keyed_replay`: a streaming input runs
``applyInPandasWithState`` over one key shuffle with the key's state
pickled between micro-batches; a batch input runs the same step once
per key through ``applyInPandas`` on fresh state — the replay-equality
oracle. Steps read their rows through one record decoder
(:func:`_decode`: replay-order sort, RowKind check, normalized cells);
the two aggregates share one accumulator (:class:`_Aggs`). State is
per key (accumulators, open windows, Top-N maps, the stored row), and
at 100 TB the shuffle is the same one any grouped aggregation pays.

Changelog column/constants are shared with ``operators.changelog``
(``_change_type`` with +I/-U/+U/-D), so the batch CDC operators
(``changelog_normalize``, ``snapshot_diff``) consume these streams
directly.
"""

from __future__ import annotations

import functools
import pickle
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from reshape_on_flink_spark.session import repartition_for_python_stage
from reshape_on_flink_spark.operators.changelog import (
    CHANGE_COL,
    DELETE,
    INSERT,
    UPDATE_AFTER,
    UPDATE_BEFORE,
)

#: supported aggregate functions: out_col -> (fn, in_col)
_FNS = ("count", "sum", "avg", "min", "max")
_KINDS_OK = frozenset((INSERT, UPDATE_AFTER, UPDATE_BEFORE, DELETE))
#: accumulate (+I/+U) or retract (-U/-D)
_SIGN = {INSERT: 1, UPDATE_AFTER: 1, UPDATE_BEFORE: -1, DELETE: -1}
#: Spark simpleString types whose pandas column turns float64 on a NULL
_INTEGRAL = ("int", "bigint", "smallint", "tinyint", "long")


def _out_field(fn: str, in_field) -> "StructField":
    if fn == "count":
        return LongType()
    if fn in ("sum", "avg"):
        return DoubleType()
    return in_field.dataType  # min/max keep the input type


def _order_spec(order_by) -> tuple[list[str] | None, set[str]]:
    """Normalize an ``order_by`` spec to ``(sort_cols, payload_skip)``.

    ``order_by`` may be a single column name (the column is a pure
    replay-sequence helper and is EXCLUDED from the operator's
    payload/output) or a LIST of column names (a composite replay order
    over columns the input already carries — payload membership is left
    untouched, so ordering by a payload column does not drop it from the
    output). The list form lets callers replay in e.g. ``(event_time,
    id, _change_type)`` order without first materializing a synthetic
    sequence column through a window function — at scale that removes a
    whole Exchange+Sort+Window pass from the changelog construction
    (optimization guide §2.4). pandas ``sort_values`` accepts both
    forms directly; the stable mergesort keeps arrival order on ties.
    """
    if order_by is None:
        return None, set()
    if isinstance(order_by, str):
        return [order_by], {order_by}
    return list(order_by), set()


def _is_null(v):
    # None, or a float NaN (v != v only for NaN)
    return v is None or v != v


class _Spec(NamedTuple):
    """How one changelog input replays (built by :func:`_input_spec`)."""

    sort_cols: list[str] | None  # replay order inside a key's batch
    payload: list[str]  # the record cells, in order
    pay_int: list[bool]  # payload column is integral (see _norm_cell)
    prefix: list[StructField]  # out schema head: _change_type, keys, payload


def _input_spec(
    sdf: DataFrame,
    keys: list[str],
    order_by,
    *,
    payload: list[str] | None = None,
    seq_fallback: bool = True,
    drop_order: bool = False,
) -> _Spec:
    """The shared input contract of the changelog operators: ``order_by``
    (:func:`_order_spec`, unknown columns are loud), the payload (every
    column but the keys, ``_change_type`` and a single-name order
    column; ``drop_order`` drops list-form order columns too) unless
    given, and its integral flags. Without ``order_by`` a key's batch
    replays in ``_change_seq`` order when the input carries one and
    ``seq_fallback`` is set, else in arrival order."""
    fields = {f.name: f for f in sdf.schema.fields}
    order_cols, order_skip = _order_spec(order_by)
    for c in order_cols or ():
        if c not in fields:
            raise ValueError(f"unknown order_by column {c!r}")
    if drop_order:
        order_skip = set(order_cols or ())
    if payload is None:
        skip = set(keys) | {CHANGE_COL} | order_skip
        payload = [c for c in sdf.columns if c not in skip]
    if order_cols is None and seq_fallback and "_change_seq" in fields:
        order_cols = ["_change_seq"]
    types = dict(sdf.dtypes)
    return _Spec(
        order_cols,
        payload,
        [types[c] in _INTEGRAL for c in payload],
        [StructField(CHANGE_COL, StringType())]
        + [fields[k] for k in keys]
        + [StructField(c, fields[c].dataType, True) for c in payload],
    )


def _norm_cell(v, integral: bool):
    """Deterministic record-cell normalization across micro-batches:
    pandas renders a batch's column as int64 or float64 depending on
    whether THAT batch carries nulls (the other side's rows pad with
    NaN), so 5 and 5.0 must hash equal in the state view."""
    import pandas as pd

    if v is None or (isinstance(v, float) and v != v) or v is pd.NaT:
        return None
    try:
        if hasattr(v, "item"):
            v = v.item()
    except (ValueError, AttributeError):
        pass
    if integral and isinstance(v, float):
        return int(v)
    return v


def _decode(batch, *specs: _Spec, kinds: bool = True) -> list[tuple]:
    """One key's micro-batch -> its records ``(side, kind, cells)`` in
    replay order: sorted by the spec's ``sort_cols`` (stable, so ties
    keep arrival order), every ``_change_type`` checked to be
    +I/-U/+U/-D (``kinds=False``: an append-only input, every row is
    +I), and each payload cell normalized by :func:`_norm_cell` into
    the ``cells`` tuple. With two specs (the join's left and right) the
    batch's ``__side`` column picks each row's spec and payload; with
    one, ``side`` is 0."""
    if specs[0].sort_cols is not None:
        batch = batch.sort_values(specs[0].sort_cols, kind="mergesort")
    n = len(batch)
    if kinds:
        ks = batch[CHANGE_COL].tolist()
        if not _KINDS_OK.issuperset(ks):
            bad = next(k for k in ks if k not in _KINDS_OK)
            raise ValueError(f"unknown {CHANGE_COL} value {bad!r}")
    else:
        ks = [INSERT] * n
    sides = batch["__side"].tolist() if len(specs) > 1 else [0] * n
    views = [([batch[c].tolist() for c in s.payload], s.pay_int) for s in specs]
    recs = []
    for i, (sd, kd) in enumerate(zip(sides, ks)):
        vals, ints = views[sd]
        recs.append((sd, kd, tuple(_norm_cell(col[i], f) for col, f in zip(vals, ints))))
    return recs


def _sequenced(rows: list, seq: int, emit: bool = True) -> tuple[list, int]:
    """Stamp a key's per-key ``_change_seq`` (monotone across batches)
    onto its emitted rows; returns ``(rows, next seq)``."""
    if emit:
        rows = [[*r, seq + i] for i, r in enumerate(rows)]
    return rows, seq + len(rows)


def _keyed_replay(
    sdf: DataFrame,
    keys: list[str],
    out_schema: StructType,
    fresh,
    step,
    aux0=0,
    batch_aux=0,
) -> DataFrame:
    """The keyed changelog runtime every operator of this module runs on.

    ``step(key_vals, batch, st, aux) -> (rows, aux)`` replays one key's
    pandas ``batch`` against its state ``st`` (a fresh one from
    ``fresh()``, mutated in place) and returns the emitted rows (lists
    in ``out_schema`` order) and the new ``aux`` — the next
    ``_change_seq`` for the seq-emitting operators, the watermark for
    the window aggregate.

    Streaming input: ``applyInPandasWithState`` over one key shuffle;
    the state between micro-batches is ``(pickled st, aux)``, ``aux0``
    for a key's first batch. Output mode is append: changelog rows are
    immutable events. Batch input: one ``applyInPandas`` pass that runs
    the step once per key on fresh state with all of the key's rows as
    one mega-batch and ``aux = batch_aux`` — the replay-equality oracle
    of the streaming route.
    """
    import pandas as pd

    cols = [f.name for f in out_schema.fields]
    if sdf.isStreaming:
        # a _change_seq is a long, a watermark a double
        aux_type = DoubleType() if isinstance(aux0, float) else LongType()
        state_schema = StructType(
            [StructField("blob", BinaryType()), StructField("aux", aux_type)]
        )

        def run(key, pdfs, state):
            batch = pd.concat(list(pdfs), ignore_index=True)
            if not len(batch):
                return
            if state.exists:
                blob, aux = state.get
                st = pickle.loads(blob)
            else:
                st, aux = fresh(), aux0
            rows, aux = step(list(key), batch, st, aux)
            state.update((pickle.dumps(st), aux))
            if rows:
                yield pd.DataFrame(rows, columns=cols)

        return sdf.groupBy(*keys).applyInPandasWithState(
            run, out_schema, state_schema, "append", "NoTimeout"
        )

    def run_batch(key, batch):
        rows, _aux = step(list(key), batch, fresh(), batch_aux)
        return pd.DataFrame(rows, columns=cols)

    return repartition_for_python_stage(sdf, keys).groupBy(*keys).applyInPandas(
        run_batch, out_schema
    )


class _Aggs:
    """The SQL aggregates of :func:`to_retract_stream` and
    :func:`window_agg_changelog` over one group's accumulator dict:
    ``n`` (the signed row count), ``s_<out>``/``c_<out>`` (sum and
    non-NULL count of a SUM/AVG input) and ``m_<out>`` (the current
    MIN/MAX, or under retraction its value multiset — Flink's
    MinWithRetractAggFunction keeps the same map). NULL inputs are
    skipped (Sum/Avg/Min/MaxWithRetractAggFunction); cells passed to
    :meth:`apply` are aligned with :attr:`cols`, the distinct input
    columns."""

    def __init__(self, aggs: dict, fields: dict, retracting: bool):
        for out, (fn, col) in aggs.items():
            if fn not in _FNS:
                raise ValueError(f"unsupported aggregate {fn!r} (use {_FNS})")
            if fn != "count" and (col is None or col not in fields):
                raise ValueError(f"aggregate {out!r}: unknown input column {col!r}")
        self.cols = list(dict.fromkeys(c for fn, c in aggs.values() if fn != "count"))
        self.items = [
            (out, fn, None if fn == "count" else self.cols.index(col))
            for out, (fn, col) in aggs.items()
        ]
        self.fields = [
            StructField(out, _out_field(fn, fields.get(col or "", None)))
            for out, (fn, col) in aggs.items()
        ]
        self.multiset = retracting and any(
            fn in ("min", "max") for _o, fn, _i in self.items
        )

    def init(self) -> dict:
        acc = {"n": 0}
        for out, fn, _i in self.items:
            if fn in ("sum", "avg"):
                acc[f"s_{out}"] = 0.0
                acc[f"c_{out}"] = 0  # non-null input count (NULLs skipped)
            elif fn in ("min", "max"):
                acc[f"m_{out}"] = [] if self.multiset else None
        return acc

    def minmax(self, acc, out, fn, v, sg):
        if _is_null(v):
            return  # Flink Min/MaxWithRetractAggFunction skips NULLs
        if self.multiset:
            ms = acc[f"m_{out}"]
            if sg > 0:
                ms.append(v)
            else:
                ms.remove(v)  # retraction of a never-added value raises
        else:
            cur = acc[f"m_{out}"]
            acc[f"m_{out}"] = (
                v if cur is None else (min(cur, v) if fn == "min" else max(cur, v))
            )

    def apply(self, acc, cells, sg):
        """Accumulate (``sg`` 1) or retract (-1) one row."""
        acc["n"] += sg
        for out, fn, i in self.items:
            if fn in ("sum", "avg"):
                v = cells[i]
                if not _is_null(v):
                    acc[f"s_{out}"] += sg * float(v)
                    acc[f"c_{out}"] += sg
            elif fn in ("min", "max"):
                self.minmax(acc, out, fn, cells[i], sg)

    def merge(self, a, b):
        a["n"] += b["n"]
        for out, fn, _i in self.items:
            if fn in ("sum", "avg"):
                a[f"s_{out}"] += b[f"s_{out}"]
                a[f"c_{out}"] += b[f"c_{out}"]
            elif fn in ("min", "max"):
                if self.multiset:
                    a[f"m_{out}"].extend(b[f"m_{out}"])
                else:
                    self.minmax(a, out, fn, b[f"m_{out}"], 1)
        return a

    def values(self, acc) -> list:
        """The aggregate values; a drained group counts 0 and its
        SUM/AVG/MIN/MAX are NULL."""
        row = []
        for out, fn, _i in self.items:
            if fn == "count":
                row.append(int(acc["n"]) if acc["n"] > 0 else 0)
            elif fn == "sum":
                # SQL/Flink SumWithRetractAggFunction: SUM over zero
                # non-null inputs is NULL, not 0
                row.append(
                    float(acc[f"s_{out}"]) if acc[f"c_{out}"] > 0 else None
                )
            elif fn == "avg":
                # AvgAggFunction divides by the NON-NULL count
                row.append(
                    float(acc[f"s_{out}"]) / acc[f"c_{out}"]
                    if acc[f"c_{out}"] > 0
                    else None
                )
            elif self.multiset:
                ms = acc[f"m_{out}"]
                row.append(None if not ms else (min(ms) if fn == "min" else max(ms)))
            else:
                row.append(acc[f"m_{out}"])
        return row


def _cmp(descs, a, b):
    """Top-N sort-key order (``functools.cmp_to_key``): per sort column,
    ascending unless its ``descs`` flag is set, NULLs last in ascending
    order."""
    for desc, va, vb in zip(descs, a, b):
        if va == vb:
            continue
        if va is None:
            return 1  # NULLs last in ascending order
        if vb is None:
            return -1
        lt = va < vb
        if desc:
            lt = not lt
        return -1 if lt else 1
    return 0


def to_retract_stream(
    sdf: DataFrame,
    keys: str | list[str],
    aggs: dict[str, tuple[str, str | None]],
    *,
    consume_changelog: bool = False,
    emit_seq: bool = True,
    granularity: str = "batch",
    order_by: str | list[str] | None = None,
) -> DataFrame:
    """Grouped aggregation over an unbounded stream, emitting Flink's
    retract stream: ``+I`` for a key's first result, then ``-U``(old) /
    ``+U``(new) pairs as it updates, ``-D`` when retractions drain a
    group empty (``GroupAggFunction.java`` emission contract).

    ``aggs`` maps output columns to ``(fn, in_col)`` with fn in
    count/sum/avg/min/max (``("count", None)`` counts rows).

    ``consume_changelog=False`` (default): the input is append-only
    (Flink's *insert-only* table) — every row accumulates.

    ``consume_changelog=True``: the input itself is a changelog carrying
    ``_change_type`` (+I/-U/+U/-D): -U/-D rows RETRACT from the
    accumulators, +I/+U accumulate — the retraction-consuming mode that
    chains two aggregation levels correctly. min/max under retraction
    keep a per-key value-count multiset in state (Flink's
    MinWithRetractAggFunction keeps the same map); count/sum/avg use
    O(1) accumulators.

    ``emit_seq=True`` adds a per-key ``_change_seq`` (monotone across
    batches) so consumers can order a key's changelog without relying
    on sink order — Flink sinks rely on operator emission order, which
    a distributed Spark sink does not preserve.

    ``granularity`` selects the emission contract:

    - ``"batch"`` (default, the scale path): one -U/+U pair per key per
      MICRO-BATCH — the batch's rows pre-aggregate vectorized. This is
      exactly the reference's minibatch mode
      (table.exec.mini-batch.enabled, MiniBatchGroupAggFunction).
    - ``"row"``: Flink's DEFAULT per-record emission
      (GroupAggFunction.processElement): every input row emits its
      -U/+U transition (unchanged aggregates emit nothing, the
      RecordEqualiser rule). Output is O(2x input rows) by contract,
      so the per-row Python walk matches the output cost; rows within
      a batch process in ``order_by`` order when given (pass the
      stream's event/sequence column for deterministic replays),
      else arrival order.

    A batch input replays each key's rows as one micro-batch (the
    replay-equality oracle of the streaming route).
    """
    import pandas as pd

    keys = [keys] if isinstance(keys, str) else list(keys)
    fields = {f.name: f for f in sdf.schema.fields}
    accs = _Aggs(aggs, fields, consume_changelog)
    if consume_changelog and CHANGE_COL not in fields:
        raise ValueError(
            f"consume_changelog=True needs a {CHANGE_COL!r} column "
            "(+I/-U/+U/-D) on the input"
        )
    if granularity not in ("batch", "row"):
        raise ValueError(f"granularity must be 'batch' or 'row', got {granularity!r}")
    # a key's changelog must retract in emission order (the multiset
    # remove of a value not yet added is loud)
    spec = _input_spec(
        sdf, keys, order_by, payload=accs.cols, seq_fallback=consume_changelog
    )

    out_schema = StructType(
        [StructField(CHANGE_COL, StringType()), *(fields[k] for k in keys)]
        + accs.fields
        + ([StructField("_change_seq", LongType())] if emit_seq else [])
    )

    def _finalize(acc):
        """accumulator dict -> output values (None group = drained)."""
        return accs.values(acc) if acc["n"] > 0 else None

    def _transition(old, new, key_vals):
        """GroupAggFunction emission contract for one old->new step
        (unchanged aggregates emit nothing — the RecordEqualiser rule)."""
        if old is None and new is not None:
            return [[INSERT, *key_vals, *new]]
        if old is not None and new is not None and new != old:
            return [[UPDATE_BEFORE, *key_vals, *old], [UPDATE_AFTER, *key_vals, *new]]
        if old is not None and new is None:
            return [[DELETE, *key_vals, *old]]
        return []

    def step(key_vals, batch, acc, seq):
        rows = []
        if granularity == "row":
            # Flink's default per-record emission
            # (GroupAggFunction.processElement): one transition per row;
            # a fresh accumulator finalizes to None -> +I on first row
            for _sd, kind, cells in _decode(batch, spec, kinds=consume_changelog):
                old = _finalize(acc)
                accs.apply(acc, cells, _SIGN[kind])
                rows.extend(_transition(old, _finalize(acc), key_vals))
        else:
            # one -U/+U pair per key per micro-batch: the rows fold in
            # vectorized, in replay order
            if spec.sort_cols is not None:
                batch = batch.sort_values(spec.sort_cols, kind="mergesort")
            sign = None
            if consume_changelog:
                sign = batch[CHANGE_COL].map(_SIGN)
                if sign.isna().any():
                    bad = batch[CHANGE_COL][sign.isna()].iloc[0]
                    raise ValueError(f"unknown {CHANGE_COL} value {bad!r}")
            old = _finalize(acc)
            acc["n"] += int(sign.sum()) if sign is not None else len(batch)
            for out, fn, i in accs.items:
                if fn in ("sum", "avg"):
                    vals = pd.to_numeric(batch[accs.cols[i]], errors="coerce")
                    nn = vals.notna()  # NULL/NaN inputs are skipped
                    if sign is not None:
                        acc[f"s_{out}"] += float((vals[nn] * sign[nn]).sum())
                        acc[f"c_{out}"] += int(sign[nn].sum())
                    else:
                        acc[f"s_{out}"] += float(vals[nn].sum())
                        acc[f"c_{out}"] += int(nn.sum())
                elif fn in ("min", "max"):
                    if accs.multiset:
                        for v, sg in zip(batch[accs.cols[i]].tolist(), sign.tolist()):
                            accs.minmax(acc, out, fn, v, sg)
                    else:
                        bvals = batch[accs.cols[i]].dropna()
                        if len(bvals):
                            bval = bvals.min() if fn == "min" else bvals.max()
                            accs.minmax(acc, out, fn, bval, 1)
            rows = _transition(old, _finalize(acc), key_vals)
        # keep drained groups' state (n=0) so a reborn key's
        # _change_seq continues monotonically past its -D; bound idle
        # keys with streaming.ops.apply_with_ttl if needed
        return _sequenced(rows, seq, emit_seq)

    return _keyed_replay(sdf, keys, out_schema, accs.init, step)


def retract_stream_to_table(df: DataFrame, keys: list[str]) -> DataFrame:
    """Batch/terminal view of a collected retract stream: the current
    table state (the UPSERT materialization Flink sinks apply) — latest
    change per key by ``_change_seq``, deletes dropped. Thin wrapper
    over ``operators.changelog.changelog_normalize``."""
    from reshape_on_flink_spark.operators.changelog import changelog_normalize

    return changelog_normalize(df, keys, "_change_seq")


# ---------------------------------------------------------------------------
# Changelog-consuming JOIN — StreamingJoinOperator.java (flink-table/
# flink-table-runtime-blink/.../operators/join/stream/
# StreamingJoinOperator.java:123-198 pseudo-code contract) with the
# JoinRecordStateView / OuterJoinRecordStateView state model
# (state/JoinRecordStateViews.java: record -> appear-count;
# OuterJoinRecordStateViews.java: record -> (appear-count,
# numOfAssociations)).
# ---------------------------------------------------------------------------


class _MultisetView:
    """InputSideHasNoUniqueKey (JoinRecordStateViews.java:154): state
    maps record -> appear-count; entries are ``[appear, nassoc]`` with
    ``nassoc`` the OuterJoinRecordStateView numOfAssociations."""

    def __init__(self):
        self.d = {}

    def items(self):
        return list(self.d.items())

    def add(self, rec):
        ent = self.d.setdefault(rec, [0, 0])
        ent[0] += 1
        return ent

    def retract(self, rec):
        ent = self.d.get(rec)
        if ent is None or ent[0] <= 0:
            return None
        ent[0] -= 1
        if ent[0] == 0:
            del self.d[rec]
        return ent

    def __len__(self):
        return len(self.d)


class _UniqueKeyView:
    """InputSideHasUniqueKey (JoinRecordStateViews.java:112 /
    OuterJoinRecordStateViews.java:143): state maps unique-key ->
    ``[1, nassoc, record]`` — addRecord is a PUT (upsert: a second
    accumulate for the same unique key REPLACES the stored record
    without counting), retractRecord REMOVES BY KEY even when the
    retraction's payload differs from the stored record. With
    ``uk_idx == ()`` this is JoinKeyContainsUniqueKey (:71 — the
    ValueState single-slot view: the join key itself is unique)."""

    def __init__(self, uk_idx):
        self.d = {}
        self.uk_idx = tuple(uk_idx)

    def _uk(self, rec):
        return tuple(rec[i] for i in self.uk_idx)

    def items(self):
        # appear is always 1: the view holds at most one record per
        # unique key, so the emission loops run exactly once per entry
        return [(ent[2], ent) for ent in self.d.values()]

    def add(self, rec):
        ent = [1, 0, rec]  # unconditional put (recordState.put/update)
        self.d[self._uk(rec)] = ent
        return ent

    def retract(self, rec):
        return self.d.pop(self._uk(rec), None)

    def __len__(self):
        return len(self.d)


def _make_view(unique_key, side_name, on, payload):
    """JoinInputSideSpec analog: None -> withoutUniqueKey; columns all
    inside the join key -> withUniqueKeyContainedByJoinKey; otherwise
    withUniqueKey over the payload positions."""
    if unique_key is None:
        return _MultisetView()
    uk = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    if not uk:
        raise ValueError(f"{side_name}_unique_key must name at least one column")
    bad = [c for c in uk if c not in on and c not in payload]
    if bad:
        raise ValueError(
            f"{side_name}_unique_key columns {bad} not in the {side_name} "
            "input's join-key/payload columns"
        )
    idx = [payload.index(c) for c in uk if c in payload]
    return _UniqueKeyView(idx)  # [] == join key contains the unique key


def join_changelog(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
    *,
    cond=None,
    order_by: str | list[str] | None = None,
    emit_seq: bool = True,
    left_unique_key: str | list[str] | None = None,
    right_unique_key: str | list[str] | None = None,
) -> DataFrame:
    """Streaming unbounded join that CONSUMES and EMITS changelogs —
    Flink's ``StreamingJoinOperator`` (INNER/LEFT/RIGHT/FULL). Each
    input row carries ``_change_type`` (+I/-U/+U/-D); a retraction on
    either side retracts the previously-emitted join rows, and outer
    sides emit/retract null-padded rows as their match count crosses
    zero — the dynamic-table join contract that makes
    ``retract agg -> join -> consuming agg`` equal batch recomputation.

    Emission kinds follow the reference exactly (StreamingJoinOperator
    .java:140-147): INNER forwards the input's RowKind (+I/+U on
    accumulate, -U/-D on retract); any OUTER join emits only +I/-D
    ("we always send insert and delete for simplification",
    FLINK-17337).

    State model per join key (JoinInputSideSpec, JoinInputSideSpec.
    java:34-120 / JoinRecordStateViews.java:42-205): by default
    (``withoutUniqueKey``) each side stores ``record -> appear-count``;
    an outer side additionally stores ``numOfAssociations`` per record
    so the null-padded row is emitted exactly when the count crosses
    zero. State size is O(live records per key); bound idle keys
    upstream with TTL if inputs churn unboundedly.

    ``left_unique_key`` / ``right_unique_key`` (the reference's
    state-size optimization, ``JoinInputSideSpec.withUniqueKey`` /
    ``withUniqueKeyContainedByJoinKey``): declare columns that are
    unique WITHIN a join key on that side and the side's state switches
    to an upsert map ``unique-key -> record`` — O(live unique keys) —
    or, when every declared column is part of ``on``, to the
    single-record slot (``JoinKeyContainsUniqueKey``: ValueState,
    O(1) per join key). Semantics mirror the reference's views, not
    just the footprint: addRecord is a PUT (a duplicate accumulate
    REPLACES the stored record instead of counting to two) and
    retractRecord removes BY KEY even when the retraction's payload
    differs — declare a spec only when the input genuinely has that
    unique key, exactly like the reference planner.

    ``on``: equi-join key columns (present in both inputs). ``cond``:
    optional extra row predicate ``(left_dict, right_dict) -> bool``
    (the generated ``joinCondition`` beyond the key). ``order_by``: a
    shared global sequence column (present in both inputs) pinning the
    interleaving of the two sides inside a micro-batch — required for
    deterministic replays, exactly like ``to_retract_stream``'s
    ``order_by``. DELIBERATE divergence from ``_order_spec``'s list-form
    contract: here order columns (single OR list form) are always
    replay-sequence metadata shared by both sides and are EXCLUDED from
    the joined payload — the flat output carries each side's payload
    columns exactly once, and a shared order column would otherwise
    collide across sides. Callers that want an order column in the
    output should duplicate it under another name before joining.
    Per-record emission is the reference's own contract
    (no minibatch mode exists for this operator); output is O(matches
    touched), so the per-row walk matches the output cost.

    Batch inputs run the same per-key processor through
    ``applyInPandas`` (state starts empty, one mega-batch) — the
    replay-equality oracle.

    NOTE (Spark constraint): Structured Streaming rejects a query with
    more than one ``applyInPandasWithState`` ("Multiple
    applyInPandasWithStates are not supported"), so a multi-stateful
    chain like ``to_retract_stream -> join_changelog ->
    to_retract_stream`` must cross an exactly-once sink/source
    boundary between stages (file or kafka sink, then readStream) —
    the same shape multi-job Flink pipelines take through Kafka
    topics. The two-level pipeline test demonstrates the staging.
    """
    on = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left", "right", "full"):
        raise ValueError(f"how must be inner/left/right/full, got {how!r}")
    if left.isStreaming != right.isStreaming:
        raise ValueError(
            "join_changelog needs both sides streaming or both batch; "
            "for a static side use streaming.ops.stream_static_join "
            "(lookup join) instead"
        )
    order_cols, _ = _order_spec(order_by)
    for side, df in (("left", left), ("right", right)):
        miss = [c for c in on + [CHANGE_COL] if c not in df.columns]
        miss += [c for c in order_cols or () if c not in df.columns]
        if miss:
            raise ValueError(f"{side} input is missing columns {miss}")
    # order columns ride both union branches, never the joined payload
    lspec, rspec = (
        _input_spec(df, on, order_by, seq_fallback=False, drop_order=True)
        for df in (left, right)
    )
    lpay, rpay = lspec.payload, rspec.payload
    overlap = set(lpay) & set(rpay)
    if overlap:
        raise ValueError(
            f"payload column collision {sorted(overlap)}: rename one side "
            "(the joined changelog carries both sides' columns flat)"
        )
    lfields = {f.name: f for f in left.schema.fields}
    rfields = {f.name: f for f in right.schema.fields}

    from pyspark.sql import functions as F

    ocols = order_cols or []
    lu = left.select(
        *on, CHANGE_COL, *ocols, *lpay,
        *[F.lit(None).cast(rfields[c].dataType).alias(c) for c in rpay],
        F.lit(0).alias("__side"),
    )
    ru = right.select(
        *on, CHANGE_COL, *ocols,
        *[F.lit(None).cast(lfields[c].dataType).alias(c) for c in lpay],
        *rpay, F.lit(1).alias("__side"),
    )
    u = lu.unionByName(ru)

    out_schema = StructType(
        lspec.prefix  # _change_type, on, the left payload
        + rspec.prefix[1 + len(on):]  # the right payload
        + ([StructField("_change_seq", LongType())] if emit_seq else [])
    )

    left_outer = how in ("left", "full")
    right_outer = how in ("right", "full")
    n_l, n_r = len(lpay), len(rpay)
    _make_view(left_unique_key, "left", on, lpay)  # validate eagerly
    _make_view(right_unique_key, "right", on, rpay)

    def _fresh_state():
        return {
            "l": _make_view(left_unique_key, "left", on, lpay),
            "r": _make_view(right_unique_key, "right", on, rpay),
        }

    def step(key_list, batch, st, seq0):
        """The StreamingJoinOperator.processElement loop over one key's
        (side, kind, payload-tuple) records; st = {'l': {rec: [appear,
        nassoc]}, 'r': ...}."""
        rows = []

        def emit(kind, lrec, rrec):
            rows.append([
                kind, *key_list,
                *(lrec if lrec is not None else [None] * n_l),
                *(rrec if rrec is not None else [None] * n_r),
            ])

        def joined(kind, in_rec, other_rec, input_is_left):
            if input_is_left:
                emit(kind, in_rec, other_rec)
            else:
                emit(kind, other_rec, in_rec)

        for side, kind, rec in _decode(batch, lspec, rspec):
            input_is_left = side == 0
            iview = st["l" if input_is_left else "r"]
            oview = st["r" if input_is_left else "l"]
            input_outer = left_outer if input_is_left else right_outer
            other_outer = right_outer if input_is_left else left_outer
            acc = kind in (INSERT, UPDATE_AFTER)
            if cond is None:
                assoc = list(oview.items())
            else:
                ld = (dict(zip(lpay, rec)) if input_is_left else None)
                assoc = []
                for otup, meta in oview.items():
                    l_d = ld if input_is_left else dict(zip(lpay, otup))
                    r_d = dict(zip(rpay, otup)) if input_is_left else dict(
                        zip(rpay, rec)
                    )
                    kd = dict(zip(on, key_list))
                    if cond({**kd, **l_d}, {**kd, **r_d}):
                        assoc.append((otup, meta))
            n_assoc = sum(m[0] for _t, m in assoc)

            if acc:  # record is accumulate (StreamingJoinOperator:210-)
                if input_outer:
                    if not assoc:  # send +I[record+null], state.add(rec, 0)
                        joined(INSERT, rec, None, input_is_left)
                        iview.add(rec)
                    else:
                        if other_outer:
                            for otup, meta in assoc:
                                if meta[1] == 0:  # -D[null+other] per copy
                                    for _ in range(meta[0]):
                                        joined(DELETE, None, otup, input_is_left)
                                meta[1] += 1
                        for otup, meta in assoc:  # +I[record+other]s
                            for _ in range(meta[0]):
                                joined(INSERT, rec, otup, input_is_left)
                        ent = iview.add(rec)
                        ent[1] = n_assoc  # state.add(record, other.size)
                else:  # input side not outer: state.add FIRST
                    iview.add(rec)
                    if assoc:
                        if other_outer:
                            for otup, meta in assoc:
                                if meta[1] == 0:
                                    for _ in range(meta[0]):
                                        joined(DELETE, None, otup, input_is_left)
                                meta[1] += 1
                            out_kind = INSERT  # outer pairs: I/D only
                        else:
                            out_kind = kind  # inner: forward RowKind
                        for otup, meta in assoc:
                            for _ in range(meta[0]):
                                joined(out_kind, rec, otup, input_is_left)
            else:  # record is retract (StreamingJoinOperator:180-198)
                if iview.retract(rec) is None:  # state.retract(record)
                    raise ValueError(
                        f"retraction of a record never accumulated on "
                        f"{'left' if input_is_left else 'right'} side: "
                        f"{rec!r} (check order_by / upstream changelog)"
                    )
                if not assoc:
                    if input_outer:  # send -D[record+null]
                        joined(DELETE, rec, None, input_is_left)
                else:
                    # -D if any side outer, else forward -D/-U
                    out_kind = (
                        DELETE
                        if (input_outer or other_outer)
                        else kind
                    )
                    for otup, meta in assoc:
                        for _ in range(meta[0]):
                            joined(out_kind, rec, otup, input_is_left)
                    if other_outer:
                        for otup, meta in assoc:
                            if meta[1] == 0:
                                raise AssertionError(
                                    "numOfAssociations == 0 on retract: "
                                    "this should never happen "
                                    "(StreamingJoinOperator.java:195)"
                                )
                            if meta[1] == 1:  # +I[null+other] per copy
                                for _ in range(meta[0]):
                                    joined(INSERT, None, otup, input_is_left)
                            meta[1] -= 1
        return _sequenced(rows, seq0, emit_seq)

    return _keyed_replay(u, on, out_schema, _fresh_state, step)


# ---------------------------------------------------------------------------
# Changelog-consuming WINDOW aggregate — the table-runtime WindowOperator
# (flink-table/flink-table-runtime-blink/.../operators/window/
# WindowOperator.java:341-391: per affected window, accumulate when
# RowDataUtil.isAccumulateMsg else retract; rows whose windows are all
# cleaned up are dropped and counted late). This closes the last §1.1
# retraction divergence: windows no longer just compare final table
# state — the operator applies +I/-U/+U/-D to per-window accumulators.
# ---------------------------------------------------------------------------


def window_agg_changelog(
    sdf: DataFrame,
    keys: str | list[str],
    time_col: str,
    aggs: dict[str, tuple[str, str | None]],
    *,
    size=None,
    slide=None,
    gap=None,
    consume_changelog: bool = True,
    order_by: str | list[str] | None = None,
) -> DataFrame:
    """Tumble/hop/session window aggregation that CONSUMES a changelog —
    Flink's ``WindowOperator`` with a retractable ``NamespaceAggsHandle``
    (WindowOperator.java:341-371): each input row is assigned to its
    affected windows (``TumblingWindowAssigner`` /
    ``SlidingWindowAssigner``), and ``+I/+U`` rows accumulate while
    ``-U/-D`` rows RETRACT from that window's accumulators. A window
    fires once the key's event-time high-water mark reaches its end
    (``EventTimeTriggers.afterEndOfWindow``; micro-batch semantics: the
    watermark a batch sees is the PREVIOUS batch's maximum, matching
    Spark's own watermark model), emits ONE insert row (``+I`` — group
    window output is append-only, no early fire), and its state is
    cleaned up (allowed lateness 0). Rows for already-cleaned windows
    are DROPPED and logged — WindowOperator's lateRecordsDroppedRate.

    A window all of whose rows were retracted still fires with the
    drained aggregates (COUNT 0, SUM/AVG/MIN/MAX NULL):
    ``emitWindowResult`` emits whatever ``getValue`` returns, with no
    emptiness check — pinned behavior, not an accident.

    ``aggs``: out_col -> (fn, in_col), fn in count/sum/avg/min/max —
    same contract as :func:`to_retract_stream`, including SQL NULL
    semantics (NULL inputs skipped; SUM/AVG over zero non-null inputs
    are NULL) and the min/max retraction multiset
    (Min/MaxWithRetractAggFunction).

    ``size``/``slide``: window parameters in the time column's own
    units for numeric columns, or anything ``_within_delta`` accepts
    ("1 hour", seconds) for timestamp columns. ``slide=None`` = tumble.
    ``gap=`` (instead of ``size``) selects SESSION windows
    (``SessionWindowAssigner`` + ``MergingWindowProcessFunction``):
    every row's proto-window ``[t, t+gap)`` joins the per-key merge set
    — for EVERY RowKind, because ``assignStateNamespace`` runs
    ``addWindow`` before the accumulate/retract split
    (MergingWindowProcessFunction.java:74-96) — touching windows merge
    (boundary-inclusive ``TimeWindow.intersects``), merged accumulators
    combine, and retractions subtract from the merged session WITHOUT
    shrinking its extent (there is no un-merge in the reference
    either).
    ``order_by``: per-key intra-batch processing order (falls back to
    ``_change_seq`` when the input carries one) — retractions must
    replay after the inserts they cancel, the same loud contract as
    the other changelog consumers.

    Batch inputs run the identical processor through ``applyInPandas``
    with the end-of-input watermark (+inf — Flink batch semantics:
    every touched window closes), which is the replay-equality oracle.

    100 TB: one shuffle on the key; per-key state = the OPEN windows
    only (closed windows are purged on fire), so state is bounded by
    size/slide x the key's in-flight event-time spread, not by history.
    """
    import logging
    import math

    import pandas as pd

    from reshape_on_flink_spark.operators.cep import _within_delta

    keys = [keys] if isinstance(keys, str) else list(keys)
    fields = {f.name: f for f in sdf.schema.fields}
    accs = _Aggs(aggs, fields, consume_changelog)
    if time_col not in fields:
        raise ValueError(f"unknown time column {time_col!r}")
    if consume_changelog and CHANGE_COL not in fields:
        raise ValueError(
            f"consume_changelog=True needs a {CHANGE_COL!r} column on the input"
        )
    is_time = fields[time_col].dataType.typeName().startswith("timestamp")
    if (size is None) == (gap is None):
        raise ValueError("pass exactly one of size= (tumble/hop) or gap= (session)")
    if gap is not None and slide is not None:
        raise ValueError("slide= applies to hop windows only, not sessions")
    size_t = None if size is None else float(_within_delta(size, is_time))
    slide_t = None if slide is None else float(_within_delta(slide, is_time))
    gap_t = None if gap is None else float(_within_delta(gap, is_time))
    for v in (size_t, slide_t, gap_t):
        if v is not None and v <= 0:
            raise ValueError("window size/slide/gap must be positive")
    # cells: the aggregate inputs, then the event time
    spec = _input_spec(sdf, keys, order_by, payload=[*accs.cols, time_col])

    from pyspark.sql.types import TimestampType

    wtype = TimestampType() if is_time else DoubleType()
    out_schema = StructType(
        [
            StructField(CHANGE_COL, StringType()),
            StructField("window_start", wtype),
            StructField("window_end", wtype),
            *[fields[k] for k in keys],
            *accs.fields,
        ]
    )

    def _windows_of(tick: float):
        # fixed assigners return (start, end) namespaces directly
        if slide_t is None:
            ws = math.floor(tick / size_t) * size_t
            return ((ws, ws + size_t),)
        last = math.floor(tick / slide_t) * slide_t
        out = []
        ws = last
        while ws > tick - size_t:
            out.append((ws, ws + size_t))
            ws -= slide_t
        return tuple(out)

    def _fire(key_vals, wins, wm):
        rows = []
        for ws, we in sorted(w for w in wins if w[1] <= wm):
            acc = wins.pop((ws, we))
            if is_time:
                b0 = pd.Timestamp(int(ws), unit="us")
                b1 = pd.Timestamp(int(we), unit="us")
            else:
                b0, b1 = ws, we
            rows.append([INSERT, b0, b1, *key_vals, *accs.values(acc)])
        return rows

    def step(key_vals, batch, wins, wm):
        """Apply one key's batch to its open windows ``wins`` under the
        watermark ``wm`` in force (the previous batch's maximum event
        time), then fire the windows the batch's maximum closes. ``wm``
        None is the end of input (the batch route): nothing is late and
        every touched window fires."""
        cut = float("-inf") if wm is None else wm
        hi, late = cut, 0
        for _sd, kind, cells in _decode(batch, spec, kinds=consume_changelog):
            t = cells[-1]
            if t is None:
                raise ValueError(
                    f"window_agg_changelog: null event time in column "
                    f"{time_col!r} for key {key_vals!r} (a row without a "
                    "time has no window; Flink rejects a NULL rowtime too)"
                )
            t = float(t.value // 1000) if is_time else float(t)  # µs ticks
            hi = max(hi, t)
            sg = _SIGN[kind]
            if gap_t is not None:
                # SessionWindowAssigner: the row's proto-window
                # [t, t+gap) joins the merge set for EVERY RowKind
                # (MergingWindowProcessFunction.assignStateNamespace
                # runs addWindow before the accumulate/retract split);
                # touching windows merge (TimeWindow.intersects is
                # boundary-inclusive)
                ws, we = t, t + gap_t
                parts = [
                    w for w in wins if w[0] <= we and w[1] >= ws
                ]
                for w in parts:
                    ws = min(ws, w[0])
                    we = max(we, w[1])
                if we <= cut:
                    late += 1  # a session in the cleaned-up past
                    continue
                acc = accs.init()
                for w in parts:
                    accs.merge(acc, wins.pop(w))
                accs.apply(acc, cells, sg)
                wins[(ws, we)] = acc
                continue
            dropped = True
            for w in _windows_of(t):
                if w[1] <= cut:
                    continue  # window already fired + cleaned
                dropped = False
                acc = wins.get(w)
                if acc is None:
                    acc = wins[w] = accs.init()
                accs.apply(acc, cells, sg)
            late += dropped
        if late:
            logging.getLogger(__name__).warning(
                "window_agg_changelog: dropped %d late row(s) for key "
                "%r (window already fired — lateRecordsDroppedRate)",
                late, key_vals,
            )
        wm = float("inf") if wm is None else hi
        return _fire(key_vals, wins, wm), wm

    return _keyed_replay(
        sdf, keys, out_schema, dict, step, aux0=float("-inf"), batch_aux=None
    )


# ---------------------------------------------------------------------------
# Retractable streaming Top-N — RetractableTopNFunction.java (flink-table/
# flink-table-runtime-blink/.../operators/rank/RetractableTopNFunction.java)
# over the AbstractTopNFunction collect contract (:245-301). The state is
# the reference's exactly: a sorted map sort-key -> count plus a data map
# sort-key -> arrival-ordered record list; every input (accumulate OR
# retract) walks the in-range prefix and emits the rank shifts.
# ---------------------------------------------------------------------------


def retractable_topn(
    sdf: DataFrame,
    partition_by: str | list[str],
    sort_cols: list[tuple[str, str]],
    *,
    rank_end: int,
    rank_start: int = 1,
    output_rank_number: bool = True,
    generate_update_before: bool = True,
    order_by: str | list[str] | None = None,
) -> DataFrame:
    """Streaming Top-N that CONSUMES a changelog — Flink's
    ``RetractableTopNFunction`` (the planner's choice whenever the rank
    input is an updating table). Each ``+I/+U`` input may push a row out
    of the Top-N (its downgrade emits as -U/+U rank shifts, or a -D on
    the without-number path); each ``-U/-D`` input may promote the row
    after it (rank shifts, or a +I of the newly-in-range row). Emission
    kinds follow AbstractTopNFunction.java:245-301: every emitted rank
    is range-checked against ``[rank_start, rank_end]``, and the
    with-row-number algorithm is forced when an offset is present.

    ``sort_cols``: ``[(col, "asc"|"desc"), ...]`` — the ORDER BY of the
    reference's ROW_NUMBER() OVER (PARTITION BY ... ORDER BY ...)
    WHERE rn <= N pattern. Ties keep ARRIVAL order (the reference's
    per-sort-key record list). ``order_by``: intra-batch replay order,
    same contract as the other changelog consumers.

    State per key = the reference's exactly: ``sortedMap`` (sort-key ->
    live count) + ``dataState`` (sort-key -> arrival-ordered records);
    retraction removes by record equality (RecordEqualiser). A retract
    for a sort key with EMPTY state warns (the reference's lenient
    STATE_CLEARED path); a non-empty mismatch raises — same split as
    RetractableTopNFunction.java:180-196. The sorted-key order is
    MAINTAINED incrementally (``bisect.insort`` on a parallel sorted
    list — O(log K) comparisons per insert/remove plus a C-level
    memmove), matching the reference TreeMap's O(log K) insert +
    ordered iteration (RetractableTopNFunction.java:53) instead of
    re-sorting the map per record.

    Batch inputs run the identical processor through ``applyInPandas``
    (the replay-equality oracle); ``changelog_normalize`` over
    (keys, rank_num) materializes the final rank table.

    100 TB: one shuffle on the key; emission is O(rank shifts), which
    is the operator's contractual output — there is no cheaper correct
    answer for an updating input.
    """
    import bisect

    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    fields = {f.name: f for f in sdf.schema.fields}
    if CHANGE_COL not in fields:
        raise ValueError(f"retractable_topn needs a {CHANGE_COL!r} column")
    if rank_end < 1 or rank_start < 1 or rank_start > rank_end:
        raise ValueError(f"bad rank range [{rank_start}, {rank_end}]")
    for c, d in sort_cols:
        if c not in fields:
            raise ValueError(f"unknown sort column {c!r}")
        if d not in ("asc", "desc"):
            raise ValueError(f"sort direction must be asc/desc, got {d!r}")
    spec = _input_spec(sdf, keys, order_by)
    payload = spec.payload
    miss = [c for c, _d in sort_cols if c not in payload]
    if miss:
        raise ValueError(f"sort columns {miss} must be payload columns")
    sort_idx = [(payload.index(c), d == "desc") for c, d in sort_cols]
    cmp = functools.partial(_cmp, [desc for _i, desc in sort_idx])
    use_rownum = output_rank_number or rank_start > 1

    out_schema = StructType(
        spec.prefix
        + ([StructField("rank_num", LongType())] if output_rank_number else [])
        + [StructField("_change_seq", LongType())]
    )

    def _sk(rec):
        return tuple(rec[i] for i, _desc in sort_idx)

    def step(key_list, batch, st, seq0):
        # cmp_to_key wrappers aren't picklable: build per invocation
        _key_of = functools.cmp_to_key(cmp)
        smap, ds = st["sm"], st["ds"]
        # Parallel sorted list of live sort keys — the TreeMap's key
        # order, maintained incrementally. Rebuilt once when restoring
        # state pickled by an older version that lacked it.
        sl = st.get("sl")
        if sl is None or len(sl) != len(smap):
            sl = st["sl"] = sorted(smap, key=_key_of)
        rows = []

        def coll(kind, rec, rank=None, checked=True):
            # AbstractTopNFunction.collect*(row, rank): range-checked;
            # the unchecked overloads pass rank=None. collectUpdateBefore
            # additionally honors generateUpdateBefore (:279) — the
            # planner omits -U when the downstream doesn't need it
            if kind == UPDATE_BEFORE and not generate_update_before:
                return
            if checked and rank is not None and not (
                rank_start <= rank <= rank_end
            ):
                return
            row = [kind, *key_list, *rec]
            if output_rank_number:
                row.append(int(rank) if rank is not None else None)
            rows.append(row)

        def _sorted_keys():
            return sl

        def emit_with_rownum(sk, in_rec):
            cur_rank, cur_row, finds = 0, None, False
            for key in _sorted_keys():
                if cur_rank > rank_end:
                    break
                if not finds and key == sk:
                    cur_rank += smap[key]
                    cur_row = in_rec
                    finds = True
                elif finds:
                    inputs = ds.get(key, [])
                    i = 0
                    while i < len(inputs) and cur_rank <= rank_end:
                        prev = inputs[i]
                        coll(UPDATE_BEFORE, prev, cur_rank)
                        coll(UPDATE_AFTER, cur_row, cur_rank)
                        cur_row = prev
                        cur_rank += 1
                        i += 1
                else:
                    cur_rank += smap[key]
            if cur_rank <= rank_end:
                coll(INSERT, cur_row, cur_rank)

        def emit_without_rownum(sk, in_rec):
            cur_rank, finds = 0, False
            to_collect = to_delete = None
            for key in _sorted_keys():
                if cur_rank > rank_end:
                    break
                if not finds and key == sk:
                    cur_rank += smap[key]
                    if rank_start <= cur_rank <= rank_end:
                        to_collect = in_rec
                    finds = True
                elif finds:
                    count = smap[key]
                    rank_of_last = cur_rank + count
                    if rank_of_last <= rank_end:
                        cur_rank = rank_of_last
                    else:
                        to_delete = ds[key][rank_end - cur_rank]
                        break
                else:
                    cur_rank += smap[key]
            if to_delete is not None:
                coll(DELETE, to_delete, checked=False)
            if to_collect is not None:
                coll(INSERT, in_rec, checked=False)

        def retract_with_rownum(sk, in_rec):
            cur_rank, prev_row, finds = 0, None, False
            for key in _sorted_keys():
                if cur_rank > rank_end:
                    break
                if not finds and key == sk:
                    inputs = ds.get(key, [])
                    it = 0
                    while it < len(inputs) and cur_rank <= rank_end:
                        cur_row = inputs[it]
                        if not finds and cur_row == in_rec:
                            prev_row = cur_row
                            finds = True
                            # remove; the NEXT row shifts INTO the
                            # removed row's rank, so the rank counter
                            # still advances (reference :364-375)
                            del inputs[it]
                        else:
                            if finds:
                                coll(UPDATE_BEFORE, prev_row, cur_rank)
                                coll(UPDATE_AFTER, cur_row, cur_rank)
                                prev_row = cur_row
                            it += 1
                        cur_rank += 1
                    if not inputs:
                        ds.pop(key, None)
                elif finds:
                    inputs = ds.get(key, [])
                    i = 0
                    while i < len(inputs) and cur_rank <= rank_end:
                        cur_row = inputs[i]
                        coll(UPDATE_BEFORE, prev_row, cur_rank)
                        coll(UPDATE_AFTER, cur_row, cur_rank)
                        prev_row = cur_row
                        cur_rank += 1
                        i += 1
                else:
                    cur_rank += smap[key]
            if cur_rank <= rank_end and finds:
                # no replacement behind: the retracted row leaves a hole
                coll(DELETE, prev_row, cur_rank)
            return finds

        def retract_without_rownum(sk, in_rec):
            next_rank, finds = 1, False
            for key in _sorted_keys():
                if next_rank > rank_end:
                    break
                if not finds and key == sk:
                    inputs = ds.get(key, [])
                    it = 0
                    while it < len(inputs) and next_rank <= rank_end:
                        prev_row = inputs[it]
                        if not finds and prev_row == in_rec:
                            coll(DELETE, prev_row, next_rank, checked=False)
                            next_rank -= 1
                            finds = True
                            del inputs[it]
                        else:
                            if finds and next_rank == rank_end:
                                coll(INSERT, prev_row, checked=False)
                            it += 1
                        next_rank += 1
                    if not inputs:
                        ds.pop(key, None)
                elif finds:
                    count = smap[key]
                    rank_of_last = next_rank + count - 1
                    if rank_of_last < rank_end:
                        next_rank = rank_of_last + 1
                    else:
                        to_add = ds[key][rank_end - next_rank]
                        coll(INSERT, to_add, checked=False)
                        break
                else:
                    next_rank += smap[key]
            return finds

        for _sd, kind, rec in _decode(batch, spec):
            sk = _sk(rec)
            if kind in (INSERT, UPDATE_AFTER):
                if sk not in smap:
                    bisect.insort(sl, sk, key=_key_of)
                smap[sk] = smap.get(sk, 0) + 1
                if use_rownum:
                    emit_with_rownum(sk, rec)
                else:
                    emit_without_rownum(sk, rec)
                ds.setdefault(sk, []).append(rec)
            else:
                if use_rownum:
                    removed = retract_with_rownum(sk, rec)
                else:
                    removed = retract_without_rownum(sk, rec)
                if sk in smap:
                    n = smap[sk] - 1
                    if n == 0:
                        del smap[sk]
                        del sl[bisect.bisect_left(sl, _key_of(sk), key=_key_of)]
                    else:
                        smap[sk] = n
                elif not smap:
                    import logging

                    logging.getLogger(__name__).warning(
                        "retractable_topn: state cleared (TTL) — lenient skip"
                    )
                else:
                    raise ValueError(
                        f"Can not retract a non-existent record: {rec!r}"
                    )
                if not removed:
                    inputs = ds.get(sk)
                    if inputs is not None:
                        for i, r in enumerate(inputs):
                            if r == rec:
                                del inputs[i]
                                break
                        if not inputs:
                            ds.pop(sk, None)
        return _sequenced(rows, seq0)

    return _keyed_replay(
        sdf, keys, out_schema, lambda: {"sm": {}, "ds": {}}, step
    )


# ---------------------------------------------------------------------------
# Updatable streaming Top-N — UpdatableTopNFunction.java (flink-table/
# flink-table-runtime-blink/.../operators/rank/UpdatableTopNFunction.java:
# 54-61 scenario contract, :257-470 emission walks). The fast path for
# UPSERT rank inputs: state holds ONLY the Top-N rows, keyed by a unique
# row key; updates may only move a row UP in rank (the planner's
# monotonicity rule), so no full history is retained.
# ---------------------------------------------------------------------------


def updatable_topn(
    sdf: DataFrame,
    partition_by: str | list[str],
    row_key: str | list[str],
    sort_cols: list[tuple[str, str]],
    *,
    rank_end: int,
    output_rank_number: bool = True,
    generate_update_before: bool = True,
    order_by: str | list[str] | None = None,
) -> DataFrame:
    """Streaming Top-N over an UPSERT stream — Flink's
    ``UpdatableTopNFunction``, "a fast version of RetractableTopNFunction
    which only holds top n data in state" (UpdatableTopNFunction.java:
    54-61). Scenario contract (the reference planner enforces these;
    we validate what is checkable and document the rest):

    1. updates move a record toward BETTER ranks only (sort collation
       ascending with decreasing update mono, or descending with
       increasing) — an update that would demote a record silently
       corrupts state in the reference too;
    2. ``row_key`` is unique and, with the partition key, identifies
       the record across updates;
    3. the input carries NO ``-U``/``-D`` rows (upsert stream) — loud
       here.

    Emission walks are the reference's exactly: a same-sort-key update
    replaces in place (-U/+U at its rank); a rank-improving update
    shifts only the rows between its new and old rank
    (:371-390, the ``compare <= 0 .. currentRank < oldRank`` loop,
    asserting arrival at the old rank); a new in-range record shifts
    everything below it and trims the sort keys that fell past the cut
    from state — silently on the with-number path (their ranks were
    rewritten by the shift emissions), with an explicit ``-D`` of the
    retired last row on the without-number path (:449-460).

    State per (partition) key = Top-N rows only: ``buffer`` (sort-key
    -> arrival-ordered row keys) + ``row-key -> record`` — the
    reference's TopNBuffer/rowKeyMap pair, pickled per key instead of
    LRU-cached over RocksDB. 100 TB: one shuffle on the key; state is
    O(N) per key — THE reason this operator exists next to the
    retractable one.

    Batch inputs replay through ``applyInPandas`` (the replay-equality
    oracle). Output schema matches :func:`retractable_topn`.
    """
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    rks = [row_key] if isinstance(row_key, str) else list(row_key)
    fields = {f.name: f for f in sdf.schema.fields}
    if CHANGE_COL not in fields:
        raise ValueError(f"updatable_topn needs a {CHANGE_COL!r} column")
    if rank_end < 1:
        raise ValueError(f"rank_end must be >= 1, got {rank_end}")
    for c, d in sort_cols:
        if c not in fields:
            raise ValueError(f"unknown sort column {c!r}")
        if d not in ("asc", "desc"):
            raise ValueError(f"sort direction must be asc/desc, got {d!r}")
    spec = _input_spec(sdf, keys, order_by)
    payload = spec.payload
    for c in rks:
        if c not in payload:
            raise ValueError(f"row_key column {c!r} must be a payload column")
    sort_idx = [(payload.index(c), d == "desc") for c, d in sort_cols]
    cmp = functools.partial(_cmp, [desc for _i, desc in sort_idx])
    rk_idx = [payload.index(c) for c in rks]

    out_schema = StructType(
        spec.prefix
        + ([StructField("rank_num", LongType())] if output_rank_number else [])
        + [StructField("_change_seq", LongType())]
    )

    def _sk(rec):
        return tuple(rec[i] for i, _d in sort_idx)

    def _rk(rec):
        return tuple(rec[i] for i in rk_idx)

    def step(key_list, batch, st, seq0):
        _key_of = functools.cmp_to_key(cmp)
        buf, rkmap = st["buf"], st["rk"]
        rows = []

        def coll(kind, rec, rank=None, checked=True):
            if kind == UPDATE_BEFORE and not generate_update_before:
                return
            if checked and rank is not None and not (1 <= rank <= rank_end):
                return
            row = [kind, *key_list, *rec]
            if output_rank_number:
                row.append(int(rank) if rank is not None else None)
            rows.append(row)

        def _skeys():
            return sorted(buf, key=_key_of)

        def _in_buffer_range(sk):
            # TopNBuffer.checkSortKeyInBufferRange: better than the
            # worst, or the buffer is not yet full
            if not buf:
                return True
            worst = max(buf, key=_key_of)
            if cmp(sk, worst) < 0:
                return True
            return sum(len(v) for v in buf.values()) < rank_end

        def _rownumber(sk, rk):
            cur = 1
            for key in _skeys():
                if key == sk:
                    for r in buf[key]:
                        if r == rk:
                            return cur
                        cur += 1
                else:
                    cur += len(buf[key])
            raise RuntimeError(
                "Failed to find the sortKey, rowkey in the buffer. "
                "This should never happen"
            )

        def _put(sk, rk):
            buf.setdefault(sk, []).append(rk)

        def _remove(sk, rk):
            lst = buf.get(sk)
            if lst is not None:
                try:
                    lst.remove(rk)
                except ValueError:
                    pass
                if not lst:
                    del buf[sk]

        def emit_with_rownum(sk, in_rec, old_sk=None, old_rec=None, old_rank=-1):
            skeys = _skeys()
            idx, cur_rank, cur_row, finds = 0, 0, None, False
            while idx < len(skeys) and cur_rank <= rank_end:
                key = skeys[idx]
                idx += 1
                rkeys = buf[key]
                if not finds and key == sk:
                    cur_rank += len(rkeys)
                    cur_row = in_rec
                    finds = True
                elif finds:
                    if old_sk is None:
                        # new row: shift every following in-range row
                        i = 0
                        while i < len(rkeys) and cur_rank <= rank_end:
                            prev = rkmap[rkeys[i]]
                            coll(UPDATE_BEFORE, prev, cur_rank)
                            coll(UPDATE_AFTER, cur_row, cur_rank)
                            cur_row = prev
                            cur_rank += 1
                            i += 1
                    elif cmp(key, old_sk) <= 0:
                        # rank improved: shift only rows above the old rank
                        i = 0
                        while i < len(rkeys) and cur_rank < old_rank:
                            prev = rkmap[rkeys[i]]
                            coll(UPDATE_BEFORE, prev, cur_rank)
                            coll(UPDATE_AFTER, cur_row, cur_rank)
                            cur_row = prev
                            cur_rank += 1
                            i += 1
                    else:
                        break  # ranks below the old position are unchanged
                else:
                    cur_rank += len(rkeys)
            if cur_rank <= rank_end:
                if old_rec is None:
                    coll(INSERT, cur_row, cur_rank)
                else:
                    assert cur_rank == old_rank, (cur_rank, old_rank)
                    coll(UPDATE_BEFORE, old_rec, old_rank)
                    coll(UPDATE_AFTER, cur_row, cur_rank)
                return
            # trim the sort keys that fell past the cut (their ranks
            # were rewritten by the shifts above — no extra emission)
            while idx < len(skeys):
                key = skeys[idx]
                idx += 1
                for r in buf[key]:
                    rkmap.pop(r, None)
                del buf[key]

        def with_rownum(in_rec):
            sk, rk = _sk(in_rec), _rk(in_rec)
            old = rkmap.get(rk)
            if old is not None:
                old_sk = _sk(old)
                if old_sk == sk:
                    # same rank, new content: replace in place
                    rank = _rownumber(sk, rk)
                    rkmap[rk] = in_rec
                    coll(UPDATE_BEFORE, old, rank)
                    coll(UPDATE_AFTER, in_rec, rank)
                    return
                old_rank = _rownumber(old_sk, rk)
                _remove(old_sk, rk)
                _put(sk, rk)
                rkmap[rk] = in_rec
                emit_with_rownum(sk, in_rec, old_sk, old, old_rank)
            elif _in_buffer_range(sk):
                _put(sk, rk)
                rkmap[rk] = in_rec
                emit_with_rownum(sk, in_rec)

        def without_rownum(in_rec):
            sk, rk = _sk(in_rec), _rk(in_rec)
            old = rkmap.get(rk)
            if old is not None:
                old_sk = _sk(old)
                if old_sk != sk:
                    _remove(old_sk, rk)
                    _put(sk, rk)
                rkmap[rk] = in_rec
                coll(UPDATE_BEFORE, old, checked=False)
                coll(UPDATE_AFTER, in_rec, checked=False)
            elif _in_buffer_range(sk):
                _put(sk, rk)
                rkmap[rk] = in_rec
                if sum(len(v) for v in buf.values()) > rank_end:
                    worst = max(buf, key=_key_of)
                    last_rk = buf[worst][-1]
                    _remove(worst, last_rk)
                    last = rkmap.pop(last_rk, None)
                    if last is not None:
                        coll(DELETE, last, checked=False)
                coll(INSERT, in_rec, checked=False)

        for _sd, kind, rec in _decode(batch, spec):
            if kind in (UPDATE_BEFORE, DELETE):
                raise ValueError(
                    "updatable_topn consumes an UPSERT stream: -U/-D "
                    "rows are not allowed (UpdatableTopNFunction.java:60 "
                    "— use retractable_topn for retract inputs)"
                )
            if output_rank_number:
                with_rownum(rec)
            else:
                without_rownum(rec)
        return _sequenced(rows, seq0)

    return _keyed_replay(
        sdf, keys, out_schema, lambda: {"buf": {}, "rk": {}}, step
    )


# ---------------------------------------------------------------------------
# Changelog-EMITTING keep-last dedup / streaming ChangelogNormalize —
# DeduplicateFunctionHelper.java:42-147 (flink-table-runtime-blink/.../
# deduplicate/): processLastRowOnProcTime for append inputs,
# processLastRowOnChangelog for upsert/changelog inputs (the core of
# StreamExecChangelogNormalize).
# ---------------------------------------------------------------------------


def dedup_keep_last_changelog(
    sdf: DataFrame,
    keys: str | list[str],
    *,
    consume_changelog: bool = False,
    generate_update_before: bool = True,
    generate_insert: bool = True,
    order_by: str | list[str] | None = None,
) -> DataFrame:
    """Keep-last deduplication that EMITS a retract changelog — the
    reference's ``DeduplicateKeepLastRowFunction`` emission contract
    (DeduplicateFunctionHelper.java):

    - append input (``consume_changelog=False``,
      ``processLastRowOnProcTime`` :42-83): a key's first row emits
      ``+I`` (or ``+U`` when ``generate_insert=False`` — "always send
      UPDATE_AFTER if INSERT is not needed"); a replacement emits
      ``-U``(previous) — gated on ``generate_update_before`` — then
      ``+U``(current); a row EQUAL to the stored one emits nothing
      (the RecordEqualiser skip, :114-118 — state TTL is not modeled
      here so the skip always applies).
    - changelog input (``consume_changelog=True``,
      ``processLastRowOnChangelog`` :98-147 — the streaming
      ``ChangelogNormalize`` core, e.g. normalizing an upsert-kafka
      topic): ``+I/+U`` behave as above; ``-U/-D`` emit ``-D`` carrying
      the STORED row's full content (the input may be a key-only
      tombstone) and clear the key's state; deleting an absent key is
      a no-op.

    Output: ``_change_type`` + the input columns + per-key
    ``_change_seq``. The batch route replays the identical processor
    (replay-equality oracle); ``changelog_normalize`` over the output
    reproduces the keep-last table state.

    100 TB: one shuffle on the key; state = ONE row per live key (the
    ValueState), the smallest of the changelog operators.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    if consume_changelog and CHANGE_COL not in sdf.columns:
        raise ValueError(
            f"consume_changelog=True needs a {CHANGE_COL!r} column on the input"
        )
    spec = _input_spec(sdf, keys, order_by)
    out_schema = StructType(spec.prefix + [StructField("_change_seq", LongType())])

    def step(key_list, batch, st, seq0):
        rows = []
        prev = st["row"]

        def emit(kind, rec):
            rows.append([kind, *key_list, *rec])

        # an append input decodes as all +I
        for _sd, kind, rec in _decode(batch, spec, kinds=consume_changelog):
            if kind in (INSERT, UPDATE_AFTER):
                if prev is None:
                    emit(INSERT if generate_insert else UPDATE_AFTER, rec)
                elif prev == rec:
                    continue  # RecordEqualiser skip (no TTL modeled)
                else:
                    if generate_update_before:
                        emit(UPDATE_BEFORE, prev)
                    emit(UPDATE_AFTER, rec)
                prev = rec
            else:  # -U / -D: tombstone — emit the STORED full content
                if prev is not None:
                    emit(DELETE, prev)
                    prev = None
                # nothing to do if removing a non-existent row
        st["row"] = prev
        return _sequenced(rows, seq0)

    return _keyed_replay(sdf, keys, out_schema, lambda: {"row": None}, step)
