"""Fluent CEP Pattern API — the flink-cep library's user-facing surface.

Reference: ``Pattern.begin("a").where(...).followedBy("b").where(...)
.oneOrMore().within(...)`` then ``CEP.pattern(stream, pattern)
.select(...)`` — flink-libraries/flink-cep/src/main/java/org/apache/
flink/cep/pattern/Pattern.java:128 (begin/where/or/next/followedBy/
notNext/notFollowedBy/oneOrMore/times/optional/greedy/until/within)
and cep/CEP.java + cep/PatternStream.java (select/flatSelect).

Spark-first compile: the builder does NOT get its own matcher. It
compiles the stage chain into a MATCH_RECOGNIZE pattern string + DEFINE
map and delegates to :func:`reshape_on_flink_spark.operators.cep.
match_recognize` (batch) / ``streaming_match_recognize`` (streams), so
every semantics fix and perf property of the engine (Catalyst-evaluated
predicates, chunked Arrow harness, WITHIN horizon clamp, skip
strategies) is shared, and `CEP.pattern(...).select(...)` aggregations
stay JVM-side Spark aggregations.

Contiguity compile:

- ``next`` (strict): plain concatenation — MATCH_RECOGNIZE is strict by
  construction.
- ``followed_by`` (relaxed): a reluctant TRUE-filler ``__gapN*?`` is
  inserted before the stage. Reluctant = minimal skip, which is exactly
  Flink's relaxed contiguity (the FIRST matching event after the
  previous stage wins; NFA "proceed" edges skip minimally). Filler rows
  are consumed by the match (they advance AFTER MATCH SKIP) but are
  dropped from user-visible output, as skipped events are not part of a
  Flink match.
- ``followed_by_any`` (non-deterministic relaxed, ``SKIP_TILL_ANY``,
  Pattern.java:322): the filler compiles GREEDY under noSkip
  enumeration (``__gapN*``), so every candidate event for the stage
  spawns its own match — the docs' "Contiguity within looping
  patterns" rows: ``a b+ c`` with non-deterministic links over
  ``a b1 d1 b2 d2 b3 c`` gives the 6 interval matches with a relaxed
  inner loop and all 7 subset matches with ``allow_combinations()``
  (both pinned in tests).
- ``not_followed_by``: the next relaxed stage's filler gets the negated
  condition (``__gapN`` := NOT cond) — no event between the two stages
  may satisfy it, Pattern.java:304. Terminal ``notFollowedBy`` is legal
  only with a ``within`` bound (as in Flink): the engine's
  ``terminal_not`` post-match lookahead drops any match followed by a
  NOT-row before its WITHIN horizon; streaming emits a surviving match
  only once the horizon closes (Flink's timeout-then-emit). Without
  ``within`` it raises, mirroring MalformedPatternException.
- ``not_next``: the event directly after the previous stage must not
  satisfy the condition (Pattern.java:273). Exact when the following
  stage is strict (the negation folds into that stage's DEFINE);
  otherwise raises with guidance to use ``not_followed_by``.

Looping contiguity (Quantifier.java:39-60 inner consuming strategies,
all three implemented):

- DEFAULT = **relaxed** (``SKIP_TILL_NEXT``): non-matching events
  between loop iterations are ignored. Compiled as
  ``B (__lgapN*? B)*`` where ``__lgapN`` := NOT(loop condition) — the
  filler may never swallow a matching event, so the loop folds exactly
  the in-order subsequence of matching events (reference matrix:
  docs/content/docs/libs/cep.md "consecutive": input
  ``C D A1 A2 A3 D A4 B`` -> 4 matches ending ``{C A1 A2 A3 A4 B}``).
- ``consecutive()`` = **strict** (``STRICT``): plain ``B{lo,hi}`` —
  any non-matching event breaks the loop.
- ``allow_combinations()`` = **combinations** (``SKIP_TILL_ANY``):
  the filler becomes unconditional (``__lgapN* B``), so enumeration
  yields every subset of matching events containing the first one
  (8 matches in the reference matrix).

Emission semantics follow Flink's AfterMatchSkipStrategy:

- ``after_match="no_skip"`` (= Flink's
  ``AfterMatchSkipStrategy.noSkip()``, the Flink CEP builder's
  default): every row starts a potential match and every loop
  expansion is emitted as its own match
  (AfterMatchSkipITCase.testNoSkip*). ``greedy()`` prunes to the
  longest expansion per start (GreedyITCase) — except on the pattern's
  terminal stage, where Flink ignores greedy and emits all expansions
  (GreedyITCase.testEndWithZeroOrMoreGreedy).

  DELIBERATE DIVERGENCE: this facade's DEFAULT is ``past_last_row``,
  the SQL-standard MATCH_RECOGNIZE default (AFTER MATCH SKIP PAST
  LAST ROW) shared with the engine it delegates to — non-overlapping
  tiled matches. Flink's builder defaults to noSkip; pass
  ``after_match="no_skip"`` for Flink-default enumeration. Pinned in
  tests/test_cep_fluent.py (AfterMatchSkip matrix).
- single-match strategies (``past_last_row``, ``to_next_row``,
  ``to_first/to_last SYM``): one match per scan position — the FIRST
  completed (fewest-repetitions) expansion, exactly Flink's
  ``skipToNext()`` behavior on loops
  (AfterMatchSkipITCase.testSkipToNextWithQuantifierAtTheEnd emits
  ``{a1 b1}``, not the longest). ``greedy()`` switches that to the
  longest expansion.

``until(c)`` is exact in every mode: the loop body DEFINE becomes
``cond AND NOT c`` and the loop filler additionally may not skip a
``c`` event (stop collecting at the first ``c`` — Pattern.java:219;
the docs' stop-condition example ``{a1 a2} {a1} {a2} {a3}`` is
reproduced in tests). ``until`` also accepts a pandas predicate for
the streaming route; every negation (until / NOT folds / group untils)
carries its streaming recipe, so the same chains run on streams.

Iterative conditions (round 9, IterativeCondition.java):
``where((event, ctx) -> bool)`` evaluates against the branch's partial
match — ``ctx.get_events_for_pattern(name)`` returns the rows already
accepted for ``name`` in this match attempt. A relaxed loop's ignore
edge is NOT(take) evaluated ITERATIVELY (NFACompiler
getIgnoreCondition): an event that matches statically but fails a
running bound is skipped, not branch-killing. ``or_`` composes
iterative conditions with iterative conditions (RichOrCondition over
like kinds); ``subtype(cond)`` is the Pattern.subtype analog for
untyped rows. Matches may never ANCHOR on a relaxed-contiguity filler
row (Flink computations start at their first TAKEN event) — the
engines drop filler-led candidates and re-find the match at its first
real row. All 7 IterativeConditionsITCase matrices are ported in
tests/test_cep_iterative.py.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from reshape_on_flink_spark.operators.cep import (
    _parse_after_match as _parse_after_match_cep,
)
from reshape_on_flink_spark.operators.cep import (
    match_recognize,
    match_recognize_multi,
    streaming_match_recognize,
)


def _sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal (a backslash in a literal
    is an escape, so it is escaped like the quote)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_in(values) -> str:
    """``(v1, v2, ...)``: the right side of a SQL ``IN``."""
    return "(" + ", ".join(_sql_str(v) for v in values) + ")"


_KINDS = (
    "begin",
    "next",
    "followed_by",
    "followed_by_any",
    "not_next",
    "not_followed_by",
)


@dataclass
class _Stage:
    name: str
    kind: str  # one of _KINDS
    cond: Column | Callable | None = None
    pandas_cond: Callable | None = None
    # (min, max, greedy): greedy is None (Flink default: first-completed
    # under single-match strategies, enumerate-all under no_skip),
    # True (greedy()), or False (reluctant() — deterministic shortest)
    quant: tuple[int, int | None, bool | None] | None = None
    loop_mode: str = "relaxed"  # Quantifier.java inner consuming strategy:
    # "relaxed" (default SKIP_TILL_NEXT) | "strict" (consecutive) |
    # "combinations" (allowCombinations, SKIP_TILL_ANY)
    until_cond: Column | None = None
    until_pandas: Callable | None = None  # streaming form of the stop condition
    # set on the stage FOLLOWING a not_followed_by: (catalyst, pandas)
    negated_gap: tuple | None = None
    # conds folded in from not_next: (catalyst, pandas) pairs
    fold_not: list = field(default_factory=list)
    # not_next before a RELAXED successor: (catalyst, pandas) negations
    # applied to this (preceding singleton) stage's immediate successor
    # row via a lead/shift(-1) lookahead
    lead_not: list = field(default_factory=list)
    # group pattern (GroupPattern.java): a sub-Pattern standing in for
    # the stage's condition; quantifiers/contiguity apply to the group
    group: "Pattern | None" = None
    # optional() is a separate wrapper, NOT lo=0: Flink's
    # times(2).optional() means 0 or 2 occurrences, never 1
    opt: bool = False
    # IterativeCondition (IterativeCondition.java): fn(event, ctx) -> bool
    # over the branch's partial match; ANDed with cond/pandas_cond
    iter_cond: Callable | None = None


def _first_positive_cond(stages) -> tuple:
    """(catalyst_cond, pandas_cond, iter_cond, name) of the first
    positive leaf stage — the group-loop relaxed filler's guard (the
    NFA ignores an event between repetitions unless it could start the
    next one)."""
    for st in stages:
        if st.kind in ("not_next", "not_followed_by"):
            continue
        if st.group is not None:
            return _first_positive_cond(st.group._stages)
        return st.cond, st.pandas_cond, st.iter_cond, st.name
    return None, None, None, None


def _is_iterative_cond(fn) -> bool:
    """Dispatch a callable condition: IterativeCondition ``(event, ctx)``
    vs vectorized pandas predicate ``(pdf)``.

    - two REQUIRED positional params -> iterative (unambiguous Flink
      shape, IterativeCondition.java ``filter(T, Context)``);
    - one required + defaulted positionals -> ambiguous between
      ``(event, ctx=None)`` and the default-arg capture idiom
      ``lambda pdf, n=x: ...``; decided by the SECOND positional's
      NAME: ``ctx``/``context``/``_ctx`` routes iterative, anything
      else pandas (a silent misroute here produces wrong matches, so
      the name convention is load-bearing — documented in where());
    - otherwise pandas.

    Set ``fn.cep_iterative = True`` / ``False`` (or use
    :meth:`Pattern.where_iterative`) to bypass inspection entirely —
    required for callables whose signature cannot be probed (some
    builtins/C partials), which raise a clear TypeError."""
    marker = getattr(fn, "cep_iterative", None)
    if marker is not None:
        return bool(marker)
    import inspect

    try:
        sig = inspect.signature(fn)
    except (TypeError, ValueError) as exc:
        raise TypeError(
            f"cannot inspect the signature of {fn!r} to tell a pandas "
            "predicate (1 positional param: pdf) from an "
            "IterativeCondition (2 positional params: event, ctx). Set "
            "`fn.cep_iterative = True` (or False), use "
            "Pattern.where_iterative(fn), or wrap it in a plain def."
        ) from exc
    pos = [
        p
        for p in sig.parameters.values()
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
    ]
    required = [p for p in pos if p.default is p.empty]
    if len(required) >= 2:
        return True
    if len(pos) >= 2:
        return pos[1].name in ("ctx", "context", "_ctx")
    return False


def _positive_leaf_stages(stages):
    """Every condition-bearing stage, recursing through groups."""
    for st in stages:
        if st.kind in ("not_next", "not_followed_by"):
            continue
        if st.group is not None:
            yield from _positive_leaf_stages(st.group._stages)
        else:
            yield st


def _greedy_span_specs(stages) -> list:
    """Sink-guard specs for TOP-level greedy loop stages (round 13).

    NFACompiler.updateWithGreedyCondition ANDs NOT(takeCondition) onto
    every transition of the greedy stage's PROCEED sink, and the
    looping ignoreState has no PROCEED edge — so the only routes from
    the loop to the sink carry the guard. Replayed on enumerated match
    candidates by ``_greedy_ok`` (operators/cep.py): a candidate dies
    iff a loop-take-able event lies in (last loop take, next taken
    row] when the sink stage is present, or iff the FIRST gap event is
    loop-take-able when an optional sink is skipped (the copy past the
    sink is unguarded — NFA 'IGNORE after PROCEED' spawns only at that
    first event).

    One spec per guarded stage: ``(loop_name, prev_name, sink_name,
    mode)`` — ``prev_name`` anchors zero-take assignments, ``mode`` is
    ``'anchor'`` (zero-take assignments guarded too: without prior
    NOTs ``copyWithoutTransitiveNots`` returns the SAME state, so the
    zero-take PROCEED lands on the one-and-only guarded sink — pinned
    by GreedyITCase testGreedyZeroOrMore, where {c,d} does NOT match
    over ``c a a a d``; bounded times-loops guard the original
    unconditionally, createTimesState) or ``'exempt0'`` (zero-take
    exempt: an UNBOUNDED optional loop preceded by a NOT — the only
    case copyWithoutTransitiveNots actually copies, so the init
    state's PROCEED targets the unguarded original while the loop
    proceeds to the guarded copy). Terminal greedy is ignored
    (GreedyITCase testEndWithZeroOrMoreGreedy) and exact-times greedy
    compiles no guard (createTimesState gates on times.getFrom() !=
    times.getTo()); groups are never greedy (builder raises)."""
    _NOTS = ("not_next", "not_followed_by")

    def _efl(sl):
        """Effective leaf list: UNQUANTIFIED non-optional groups inline
        (NFACompiler converts them in place between their neighbours),
        so their inner greedy loops ride the top-level spec walk with
        the real cross-boundary prev/sink; quantified/optional groups
        stay opaque (their inner loops get per-iteration specs below).
        NOT stages stay in place for the prior_not computation."""
        out = []
        for s in sl:
            if s.group is not None and s.quant is None and not s.opt:
                out.extend(_efl(s.group._stages))
            else:
                out.append(s)
        return out

    eff = _efl(stages)
    pos, prior_not = [], []
    for i, s in enumerate(eff):
        if s.kind in _NOTS:
            continue
        pos.append(s)
        prior_not.append(i > 0 and eff[i - 1].kind in _NOTS)
    specs = []
    for j, s in enumerate(pos[:-1]):
        if s.group is not None or s.quant is None or s.quant[2] is not True:
            continue
        lo, hi, _g = s.quant
        if hi is not None and lo == hi:
            continue
        if s.until_cond is not None or s.until_pandas is not None:
            # until() + greedy compiles a guarded/unguarded TWIN of the
            # sink (createLooping: the copy made BEFORE
            # updateWithGreedyCondition keeps unguarded transitions and
            # is proceed-reachable exactly when the until condition
            # holds at the jump event — GreedyITCase
            # testGreedyUntilWithDummyEventsBeforeQuantifier). The span
            # filter cannot express the per-event twin choice; the
            # stage keeps the possessive compile (longest-commit),
            # whose results match every GreedyITCase until row.
            continue

        def _first_leaf(st):
            if st.group is not None:
                return next(iter(_positive_leaf_stages(st.group._stages))).name
            return st.name

        def _last_leaf(st):
            if st.group is not None:
                return list(_positive_leaf_stages(st.group._stages))[-1].name
            return st.name

        prev_name = _last_leaf(pos[j - 1]) if j > 0 else None
        sink_name = _first_leaf(pos[j + 1])
        optable = s.opt or lo == 0
        mode = (
            "exempt0"
            if (optable and hi is None and prior_not[j])
            else "anchor"
        )
        specs.append((s.name, prev_name, sink_name, mode))

    # greedy loops INSIDE a looping (quantified/optional) group
    # (round 14): convertPattern re-applies updateWithGreedyCondition
    # inside EVERY iteration copy, so the guard anchors per maximal
    # run of the loop symbol (_greedy_ok iterates runs). Supported
    # shape: lo >= 1 loop immediately followed by a plain MANDATORY
    # inner leaf — every iteration then contributes exactly one run
    # whose guarded sink jump is that leaf's take. Other shapes raise
    # loudly: the possessive compile they previously fell into commits
    # iteration 1's run through the NEXT iteration's entry rows and
    # silently drops valid matches (round-14 bug class).
    def _walk_group(gs):
        inner = [st for st in _efl(gs.group._stages) if st.kind not in _NOTS]
        for j, st in enumerate(inner):
            if st.group is not None:
                if st.quant is not None or st.opt:
                    _walk_group(st)
                continue
            if st.quant is None or st.quant[2] is not True:
                continue
            lo2, hi2, _g2 = st.quant
            if hi2 is not None and lo2 == hi2:
                continue  # exact times compiles no guard (createTimesState)
            if st.until_cond is not None or st.until_pandas is not None:
                continue  # possessive twin compile retained (see above)
            nxt = inner[j + 1] if j + 1 < len(inner) else None
            if (
                nxt is None
                or nxt.group is not None
                or nxt.quant is not None
                or nxt.opt
            ):
                raise NotImplementedError(
                    f"greedy loop {st.name!r} at the iteration tail (or "
                    "before optional/quantified leaves) of a looping "
                    "group: its PROCEED sink is the iteration-boundary "
                    "state, so the guard spans the next iteration's "
                    "entry — untraced; restructure so a plain mandatory "
                    "leaf follows the greedy loop inside the group"
                )
            if lo2 == 0 or st.opt:
                raise NotImplementedError(
                    f"zero-able greedy loop {st.name!r} inside a looping "
                    "group: a zero-take iteration leaves no run to "
                    "anchor its sink guard on — untraced"
                )
            prev2 = _last_leaf(inner[j - 1]) if j > 0 else None
            specs.append((st.name, prev2, nxt.name, "anchor"))

    def _last_leaf(st):
        if st.group is not None:
            return list(_positive_leaf_stages(st.group._stages))[-1].name
        return st.name

    for s in eff:
        if s.group is not None and (s.quant is not None or s.opt):
            _walk_group(s)
    return specs


def _build_pandas_define(pattern) -> dict:
    """Streaming DEFINE dict for a COMPILED pattern: user symbols from
    their where() predicates + the streaming negation recipes compile()
    recorded (until()/not_next folds/group untils, ``_stage_negs_pd``),
    fillers (stage gaps ``__gapN`` AND loop-iteration gaps ``__lgapN``)
    from ``_lgap_pandas`` — ("true", None, negs) -> all-True minus
    negations, ("not_cond", f, negs) -> ~f(pdf) minus negations (a
    relaxed loop's filler may never swallow an event the loop body
    would match, nor a stop/NOT event)."""
    import pandas as pd

    pandas_define = {}
    for s in _positive_leaf_stages(pattern._stages):
        if s.pandas_cond is None and s.iter_cond is None:
            raise ValueError(
                f"streaming CEP needs vectorized pandas predicates; "
                f"stage {s.name!r} has only a Catalyst condition "
                f"(pass a `pdf -> bool array` callable to where())"
            )

    def _materialize(base_fn, negs, name, negate_base=False):
        if any(n is None for n in negs):
            raise ValueError(
                f"streaming CEP: {name!r} carries a negation "
                "(until()/notFollowedBy/not_next fold) with no "
                "pandas form — pass a `pdf -> bool array` "
                "callable for that condition too"
            )

        def fn(pdf, base=base_fn, negs=tuple(negs), nb=negate_base):
            if base is None:
                col = pd.Series(True, index=pdf.index)
            else:
                col = pd.Series(base(pdf), index=pdf.index)
                if nb:
                    col = ~col
            for g in negs:
                col = col & ~pd.Series(g(pdf), index=pdf.index)
            return col

        return fn

    stage_negs_pd = getattr(pattern, "_stage_negs_pd", {})
    for s in _positive_leaf_stages(pattern._stages):
        body = _materialize(s.pandas_cond, stage_negs_pd.get(s.name, []), s.name)
        if s.lead_not:
            # relaxed not_next: next-row lookahead via shift(-1)
            negs = [p for _c, p in s.lead_not]
            if any(p is None for p in negs):
                raise ValueError(
                    "streaming not_next needs a vectorized pandas "
                    "predicate on the NOT stage"
                )

            def _lead_wrapped(pdf, base=body, negs=negs):
                n = pd.Series(negs[0](pdf), index=pdf.index)
                for f in negs[1:]:
                    n = n | pd.Series(f(pdf), index=pdf.index)
                return base(pdf) & ~n.shift(-1, fill_value=False)

            pandas_define[s.name] = _lead_wrapped
        else:
            pandas_define[s.name] = body
    for name, (kind, fn, negs) in pattern._lgap_pandas.items():
        if kind == "not_cond" and fn is None:
            raise ValueError(
                f"streaming CEP: loop filler {name!r} needs the loop "
                "body's pandas predicate (pass a `pdf -> bool array` "
                "callable to the looping stage's where())"
            )
        pandas_define[name] = _materialize(
            fn, negs, name, negate_base=(kind == "not_cond")
        )
    return pandas_define


def _check_stage_name(name: str) -> None:
    # stage names are the MATCH_RECOGNIZE pattern's symbols
    if not name.isidentifier():
        raise ValueError(f"stage name must be an identifier, got {name!r}")


class Pattern:
    """Immutable-ish fluent builder; every method returns ``self`` (the
    Flink API mutates the tail stage the same way)."""

    def __init__(self) -> None:
        self._stages: list[_Stage] = []
        self._within: str | float | None = None

    # -- construction -------------------------------------------------
    @staticmethod
    def begin(name: "str | Pattern") -> "Pattern":
        p = Pattern()
        if isinstance(name, Pattern):
            # group pattern sequence start (Pattern.java:503)
            p._stages.append(_Stage(name="__group0", kind="begin", group=name))
            return p
        _check_stage_name(name)
        p._stages.append(_Stage(name=name, kind="begin"))
        return p

    def _add(self, name: "str | Pattern", kind: str) -> "Pattern":
        if isinstance(name, Pattern):
            # group pattern link (Pattern.java:516/529/543: followedBy/
            # followedByAny/next over a sub-Pattern)
            self._stages.append(
                _Stage(name=f"__group{len(self._stages)}", kind=kind, group=name)
            )
            return self
        if any(s.name == name for s in self._stages):
            raise ValueError(f"duplicate stage name {name!r}")
        _check_stage_name(name)
        self._stages.append(_Stage(name=name, kind=kind))
        return self

    def next(self, name: "str | Pattern") -> "Pattern":
        return self._add(name, "next")

    def followed_by(self, name: "str | Pattern") -> "Pattern":
        return self._add(name, "followed_by")

    def followed_by_any(self, name: str) -> "Pattern":
        """Non-deterministic relaxed contiguity (Pattern.java:322,
        ``SKIP_TILL_ANY``): the gap before this stage may skip MATCHING
        events too, so under ``after_match="no_skip"`` every candidate
        event for this stage yields its own match (docs cep.md
        "Contiguity within looping patterns": ``a b+ c`` with
        non-deterministic links over ``a b1 d1 b2 d2 b3 c`` -> 7
        matches). Compiled as an unconditional filler that the noSkip
        enumerator branches on (``__gapN*``); under single-match skip
        strategies the highest-priority branch is the minimal gap, which
        coincides with ``followed_by``. Accepts a sub-``Pattern`` for a
        group link (GroupPattern)."""
        return self._add(name, "followed_by_any")

    def not_next(self, name: str) -> "Pattern":
        return self._add(name, "not_next")

    def not_followed_by(self, name: str) -> "Pattern":
        return self._add(name, "not_followed_by")

    # -- conditions on the tail stage ---------------------------------
    def _tail(self) -> _Stage:
        if not self._stages:
            raise ValueError("call Pattern.begin(...) first")
        return self._stages[-1]

    def where(self, cond: Column | str | Callable) -> "Pattern":
        """AND a condition onto the current stage (Pattern.java:155).
        Accepts a Catalyst Column, a SQL string, a vectorized pandas
        predicate ``pdf -> bool array`` (streaming route), or a TWO-
        argument callable ``(event, ctx) -> bool`` — Flink's
        ``IterativeCondition`` (IterativeCondition.java; cep.md
        "Iterative Conditions"): ``event`` is the row dict under
        evaluation and ``ctx.get_events_for_pattern(name)`` returns the
        rows already accepted for stage ``name`` along the current
        branch of this match attempt (the partial match)."""
        t = self._tail()
        if t.group is not None:
            raise ValueError(
                "GroupPattern does not support where clause (GroupPattern.java:45)"
            )
        if callable(cond) and not isinstance(cond, Column):
            if _is_iterative_cond(cond):  # IterativeCondition: fn(event, ctx)
                if t.iter_cond is not None:
                    prev = t.iter_cond
                    t.iter_cond = lambda e, c, a=prev, b=cond: a(e, c) and b(e, c)
                else:
                    t.iter_cond = cond
                return self
            if t.pandas_cond is not None:
                prev = t.pandas_cond
                t.pandas_cond = lambda pdf, a=prev, b=cond: a(pdf) & b(pdf)
            else:
                t.pandas_cond = cond
            return self
        cond = F.expr(cond) if isinstance(cond, str) else cond
        t.cond = cond if t.cond is None else (t.cond & cond)
        return self

    def where_iterative(self, cond: Callable) -> "Pattern":
        """Explicitly AND an IterativeCondition ``(event, ctx) -> bool``
        onto the current stage, bypassing the signature-based dispatch
        of :meth:`where` — use for callables whose signature cannot be
        inspected (C-implemented partials) or whose parameter list
        doesn't look binary (e.g. ``*args`` adapters)."""
        try:
            cond.cep_iterative = True
        except (AttributeError, TypeError):
            inner = cond
            cond = lambda e, c: inner(e, c)  # noqa: E731 — attachable wrapper
            cond.cep_iterative = True
        return self.where(cond)

    def or_(self, cond: Column | str | Callable) -> "Pattern":
        """OR a condition onto the current stage (Pattern.java:175).
        A two-argument callable ORs onto a prior ITERATIVE where()
        (RichOrCondition over like kinds — OR across the static/
        iterative boundary is not splittable into a column + a branch
        check, so it raises with guidance)."""
        t = self._tail()
        if t.group is not None:
            raise ValueError(
                "GroupPattern does not support or clause (GroupPattern.java:51)"
            )
        if callable(cond) and not isinstance(cond, Column):
            if _is_iterative_cond(cond):  # IterativeCondition
                if t.iter_cond is None:
                    raise ValueError(
                        "or_ with an iterative condition needs a prior "
                        "iterative where() on this stage (OR across the "
                        "static/iterative boundary is not expressible; "
                        "fold the static test into the callable)"
                    )
                prev = t.iter_cond
                t.iter_cond = lambda e, c, a=prev, b=cond: a(e, c) or b(e, c)
                return self
            if t.pandas_cond is None:
                raise ValueError("or_ with a pandas predicate needs a prior where()")
            prev = t.pandas_cond
            t.pandas_cond = lambda pdf, a=prev, b=cond: a(pdf) | b(pdf)
            return self
        cond = F.expr(cond) if isinstance(cond, str) else cond
        if t.cond is None:
            raise ValueError("or_ needs a prior where() on this stage")
        t.cond = t.cond | cond
        return self

    def subtype(self, cond: Column | str | Callable) -> "Pattern":
        """Pattern.java:190 ``subtype(Class)`` analog: rows here are
        untyped, so the subtype narrows via a condition on the type
        discriminator column (e.g. ``F.col("sub")`` or
        ``"event_kind = 'sub'"``), ANDed exactly like :meth:`where` —
        subsequent conditions then apply to the narrowed rows."""
        return self.where(cond)

    # -- quantifiers on the tail stage --------------------------------
    def _set_quant(self, lo: int, hi: int | None) -> None:
        t = self._tail()
        if t.kind in ("not_next", "not_followed_by"):
            raise ValueError("NOT stages cannot be quantified (MalformedPatternException)")
        if t.quant is not None and not (t.quant[0] == 0 and t.quant[1] == 1):
            raise ValueError(f"stage {t.name!r} already quantified")
        t.quant = (lo, hi, None)

    def one_or_more(self) -> "Pattern":
        self._set_quant(1, None)
        return self

    def times(self, lo: int, hi: int | None = None) -> "Pattern":
        if lo < 0 or (hi is not None and hi < lo):
            raise ValueError(f"bad times bounds ({lo}, {hi})")
        self._set_quant(lo, lo if hi is None else hi)
        return self

    def times_or_more(self, lo: int) -> "Pattern":
        self._set_quant(lo, None)
        return self

    def optional(self) -> "Pattern":
        # A separate wrapper flag, NOT lo=0: Flink's times(2).optional()
        # means 0 or exactly 2 occurrences (never 1). greedy stays None
        # (Flink default): no_skip enumerates BOTH the present and
        # absent branch; greedy() upgrades to present-only.
        t = self._tail()
        if t.kind in ("not_next", "not_followed_by"):
            raise ValueError("NOT stages cannot be optional (MalformedPatternException)")
        if t.opt:
            raise ValueError("Optional already applied!")
        t.opt = True
        return self

    def greedy(self) -> "Pattern":
        t = self._tail()
        if t.group is not None:
            raise ValueError(
                "Option not applicable to group pattern (MalformedPatternException)"
            )
        if t.quant is None:
            raise ValueError("greedy() applies to a quantified stage")
        t.quant = (t.quant[0], t.quant[1], True)
        return self

    def reluctant(self) -> "Pattern":
        """Deterministic smallest-repetition (regex ``+?``): exactly one
        (shortest) expansion per start under EVERY strategy, including
        no_skip. Not in the Flink builder; exposed because the engine
        supports it natively."""
        t = self._tail()
        if t.quant is None:
            raise ValueError("reluctant() applies to a quantified stage")
        t.quant = (t.quant[0], t.quant[1], False)
        return self

    def _loop_tail(self, what: str) -> _Stage:
        t = self._tail()
        if t.quant is None or t.quant[1] == 1:
            raise ValueError(
                f"{what} not applicable to a non-looping stage "
                "(Quantifier.java checkPattern)"
            )
        return t

    def consecutive(self) -> "Pattern":
        """STRICT inner contiguity between loop iterations — any
        non-matching event breaks the loop (Quantifier.java:101)."""
        t = self._loop_tail("consecutive()")
        if t.loop_mode == "combinations":
            raise ValueError(
                "You can apply either combinations or consecutive, not both!"
            )
        if t.loop_mode == "strict":
            raise ValueError("Consecutive already applied!")
        t.loop_mode = "strict"
        return self

    def allow_combinations(self) -> "Pattern":
        """SKIP_TILL_ANY inner contiguity — the loop may skip matching
        events too, so every subset of matching events (containing the
        first) is a match (Quantifier.java:85). Exponential in the loop
        length by construction, exactly as in the reference NFA — bound
        it with where()/until()/within()."""
        t = self._loop_tail("allow_combinations()")
        if t.loop_mode == "strict":
            raise ValueError(
                "You can apply either combinations or consecutive, not both!"
            )
        if t.loop_mode == "combinations":
            raise ValueError("Combinations already applied!")
        t.loop_mode = "combinations"
        return self

    def until(self, cond: Column | str | Callable) -> "Pattern":
        """Stop condition on a looping stage (Pattern.java:228). Accepts
        a Catalyst Column / SQL string (batch; streaming too when the
        same stage predicates are Catalyst) or a vectorized pandas
        predicate ``pdf -> bool array`` for the streaming route. As with
        :meth:`where`, the SAME stop condition may be given once in EACH
        dialect (one Column + one callable) so a chain runs on batch and
        streams alike; a second condition in the same dialect raises
        (Flink: only one until condition can be applied)."""
        t = self._tail()
        if t.quant is None or t.quant[1] == 1:
            raise ValueError("until() is only applicable to looping stages (Pattern.java:228)")
        if callable(cond) and not isinstance(cond, Column):
            if t.until_pandas is not None:
                raise ValueError("only one until condition can be applied")
            t.until_pandas = cond
        else:
            if t.until_cond is not None:
                raise ValueError("only one until condition can be applied")
            t.until_cond = F.expr(cond) if isinstance(cond, str) else cond
        return self

    def within(self, duration: str | float) -> "Pattern":
        """Whole-pattern time bound (Pattern.java:245); engine WITHIN."""
        self._within = duration
        return self

    # -- compile ------------------------------------------------------
    def compile(
        self, emit: str = "first", lookahead_window=None
    ) -> tuple[str, dict[str, Column], list[str], str | float | None]:
        """-> (pattern_string, define, user_symbols, within). Raises on
        chains the engine cannot express (loudly, with the reason).

        ``lookahead_window``: a Spark Window (partitioned by the scan
        keys, ordered by the scan order) used to fold ``not_next``
        before a RELAXED successor into the preceding stage via
        ``F.lead`` — required only for such chains;
        :meth:`PatternStream._run` supplies it automatically.

        ``emit`` resolves Flink-default (``greedy=None``) quantifiers:

        - ``"first"`` (single-match skip strategies): reluctant regex
          quantifiers — the first COMPLETED (fewest-repetitions)
          expansion wins, Flink's skipToNext-on-loops behavior.
          Optionals stay take-first.
        - ``"all"`` (no_skip enumeration): greedy regex quantifiers —
          the NO_SKIP enumerator branches at greedy choice points and
          emits every expansion. Explicit ``greedy()`` compiles to a
          POSSESSIVE quantifier (``++``): the enumerator commits to the
          longest completing expansion per start (GreedyITCase) —
          except on the pattern's terminal stage, where Flink ignores
          greedy and enumerates
          (GreedyITCase.testEndWithZeroOrMoreGreedy).
        """
        if emit not in ("first", "all"):
            raise ValueError(f"emit must be 'first' or 'all', got {emit!r}")

        def sfx(g: bool | None, optional_like: bool = False) -> str:
            if g is True:
                return "+" if emit == "all" else ""
            if g is False:
                return "?"
            if emit == "all":
                return ""
            return "" if optional_like else "?"

        def brace(lo: int, hi: int | None) -> str:
            if (lo, hi) == (1, 1):
                return ""
            if (lo, hi) == (1, None):
                return "+"
            if (lo, hi) == (0, None):
                return "*"
            if (lo, hi) == (0, 1):
                return "?"
            if hi is None:
                return f"{{{lo},}}"
            if hi == lo:
                return f"{{{lo}}}"
            return f"{{{lo},{hi}}}"

        define: dict[str, Column] = {}
        user_syms: list[str] = []
        ctx = {
            "define": define,
            "user_syms": user_syms,
            "lgap_pandas": {},
            "iter_define": {},
            "stage_negs_pd": {},
            "gap_n": 0,
            "names": set(),
            "fluid_links": [],
        }
        self._lgap_pandas = ctx["lgap_pandas"]
        self._iter_define = ctx["iter_define"]
        self._stage_negs_pd = ctx["stage_negs_pd"]
        self._fluid_links = ctx["fluid_links"]
        self._terminal_not = None
        # greedy sink-guard specs (round 13): non-terminal greedy loops
        # compile ENUMERABLE under emit='all' and the guard is replayed
        # as a candidate filter (_greedy_ok) — the possessive commit
        # kept only the longest expansion per start, but the NFA also
        # emits earlier completions whose sink jump was clean (the
        # guard constrains the jump span, not the expansion choice)
        self._greedy_spans = _greedy_span_specs(self._stages)
        greedy_enum = {name for name, _p, _s, _m in self._greedy_spans}

        # pattern-terminal greedy through trailing UNQUANTIFIED groups
        # (round 14): the final NFA state has no transitions to guard,
        # so end-of-pattern greedy is a no-op (GreedyITCase
        # testEndWithZeroOrMoreGreedy) even when the terminal leaf sits
        # inside a trailing unquantified group — enumerate plainly
        # (the flat case rides compile_stages' last_positive check)
        def _eff_last(sl):
            for st in reversed(sl):
                if st.kind in ("begin", "next", "followed_by",
                               "followed_by_any"):
                    if st.group is not None and st.quant is None and not st.opt:
                        return _eff_last(st.group._stages)
                    return st
            return None

        _tl = _eff_last(self._stages)
        greedy_term = (
            {_tl.name}
            if (
                _tl is not None
                and _tl.group is None
                and _tl.quant is not None
                and _tl.quant[2] is True
            )
            else set()
        )

        def and_negs(col, negs):
            """negs are (catalyst, pandas) pairs; a pandas-only neg makes
            the Catalyst form inexpressible -> None (streaming-only
            define, the batch route raises loudly on it)."""
            for cat, _pd in negs:
                if col is None or cat is None:
                    return None
                col = col & ~cat
            return col

        def pd_negs(negs):
            # streaming forms; None placeholders mean 'a negation exists
            # but has no pandas form' -> the streaming route raises
            return [p for _cat, p in negs]

        def compile_stages(owner, stages, extra_negs, top, first_folds=None):
            """One stage list -> token list; groups recurse with their
            until conditions folded into every inner DEFINE (Flink's
            stop condition halts collection anywhere in the group).
            ``first_folds``: not_next negations an OUTER chain folds
            onto this group's first consumed event."""
            toks: list[str] = []
            for s in stages:  # compile is re-runnable: clear derived state
                s.fold_not = []
                s.negated_gap = None
                s.lead_not = []
            if first_folds:
                head = next(
                    (
                        st
                        for st in stages
                        if st.kind not in ("not_next", "not_followed_by")
                    ),
                    None,
                )
                if (
                    head is None
                    or head.group is not None
                    or head.quant is not None
                    or head.opt
                ):
                    raise NotImplementedError(
                        "not_next before a group whose first stage is "
                        "itself a group/quantified/optional is not "
                        "expressible; guard that stage's condition instead"
                    )
                head.fold_not.extend(first_folds)
            # Flink ignores greedy on the pattern's TERMINAL stage and
            # enumerates (GreedyITCase.testEndWithZeroOrMoreGreedy) —
            # outer chain only; groups are never greedy (builder raises)
            last_positive = (
                max(
                    (
                        j
                        for j, st in enumerate(stages)
                        if st.kind in ("begin", "next", "followed_by", "followed_by_any")
                    ),
                    default=-1,
                )
                if top
                else -1
            )
            i = 0
            while i < len(stages):
                s = stages[i]
                if s.kind in ("not_next", "not_followed_by"):
                    if s.cond is None and s.pandas_cond is None:
                        raise ValueError(f"NOT stage {s.name!r} needs a where() condition")
                    nxt = stages[i + 1] if i + 1 < len(stages) else None
                    terminal_nf = s.kind == "not_followed_by" and nxt is None and top
                    relaxed_nn = (
                        s.kind == "not_next"
                        and nxt is not None
                        and nxt.kind in ("followed_by", "followed_by_any")
                    )
                    # pandas-only NOT conditions compile to None Catalyst
                    # forms: the batch route raises on them, the streaming
                    # route rebuilds from the pandas predicate
                    if s.kind == "not_followed_by":
                        if nxt is None:
                            if not top:
                                raise ValueError(
                                    "notFollowedBy cannot end a group pattern "
                                    "(MalformedPatternException)"
                                )
                            if self._within is None:
                                raise ValueError(
                                    "terminal notFollowedBy requires a within() "
                                    "bound (Flink: NotFollowedBy is not supported "
                                    "without windowTime as a last part of a "
                                    "Pattern, Pattern.java:304)"
                                )
                            # post-match lookahead: engine terminal_not
                            self._terminal_not = (s.cond, s.pandas_cond)
                            i += 1
                            continue
                        if nxt.kind == "next":
                            # no events can lie between the neighbours; the
                            # constraint is vacuous (matches Flink NFA: the NOT
                            # state guards the proceed path only)
                            pass
                        elif nxt.kind in ("followed_by", "followed_by_any"):
                            nxt.negated_gap = (s.cond, s.pandas_cond)
                            # ALSO: if the gap is empty, the very next event is
                            # nxt's own — Flink still forbids it satisfying the
                            # NOT condition only for notNext, not notFollowedBy.
                        else:
                            raise ValueError(
                                f"NOT stage {s.name!r} must be followed by a "
                                f"positive stage, got {nxt.kind}"
                            )
                    else:  # not_next
                        if nxt is None:
                            raise NotImplementedError(
                                "terminal notNext is not expressible without "
                                "lookahead; end the pattern on a positive stage"
                            )
                        if nxt.kind == "next":
                            # leaf: fold into its DEFINE; group: fold onto
                            # the group's first consumed event (exact for
                            # an unquantified group — its first event is
                            # the one directly after the previous stage)
                            nxt.fold_not.append((s.cond, s.pandas_cond))
                        else:
                            # relaxed successor (NotPatternITCase.
                            # testNotNext): the constraint is on the row
                            # DIRECTLY AFTER the preceding stage — fold
                            # it there via a lead()/shift(-1) lookahead
                            prev = next(
                                (
                                    stages[j]
                                    for j in range(i - 1, -1, -1)
                                    if stages[j].kind
                                    not in ("not_next", "not_followed_by")
                                ),
                                None,
                            )
                            if prev is None:
                                raise ValueError(
                                    f"not_next stage {s.name!r} has no "
                                    "preceding positive stage"
                                )
                            if (
                                prev.group is not None
                                or prev.quant is not None
                                or prev.opt
                            ):
                                raise NotImplementedError(
                                    "not_next after a quantified/optional/"
                                    "group stage needs a last-element "
                                    "lookahead the compile lacks; use "
                                    "not_followed_by() or restructure"
                                )
                            prev.lead_not.append((s.cond, s.pandas_cond))
                    i += 1
                    continue

                if (
                    s.group is None
                    and s.cond is None
                    and s.pandas_cond is None
                    and s.iter_cond is None
                ):
                    raise ValueError(f"stage {s.name!r} has no where() condition")
                if s.negated_gap is not None and (
                    s.opt or (s.quant is not None and s.quant[0] == 0)
                ):
                    raise NotImplementedError(
                        "notFollowedBy before an optional/zero-able stage "
                        "extends its scope through the absent branch to the "
                        "following stage (NotPatternITCase."
                        "testNotFollowedByBeforeOptional); that branch "
                        "conditioning is not expressible here — make the "
                        "stage mandatory or restructure"
                    )
                has_until = s.until_cond is not None or s.until_pandas is not None
                optional_like = s.opt or (s.quant is not None and s.quant[0] == 0)
                # a GROUP whose first positive leaf is optable needs the
                # same enumerable NOT(head)-guarded gap (round 13): the
                # waiting state is the optable head leaf's, whose ignore
                # edge is NOT(head take) only — an event take-able by a
                # LATER inner leaf forks an in-group copy but never
                # consumes the waiter, so later-start branches survive
                # (a reluctant gap commits to the earliest start and
                # loses them)
                if s.group is not None and not optional_like:
                    _h = s.group._stages[0]
                    while _h.group is not None:
                        _h = _h.group._stages[0]
                    if _h.opt or (_h.quant is not None and _h.quant[0] == 0):
                        optional_like = True
                if s.kind == "followed_by":
                    gap = f"__gap{ctx['gap_n']}"
                    ctx["gap_n"] += 1
                    gap_negs = list(extra_negs)
                    if s.negated_gap is not None:
                        gap_negs.insert(0, s.negated_gap)
                    if has_until:
                        # the stop condition guards the WAITING loop
                        # branch too: an until-event before the first
                        # loop element kills it (GreedyITCase.
                        # testGreedyUntilOneOrMoreWithDummyEventsBefore-
                        # Quantifier expects no match)
                        gap_negs.insert(0, (s.until_cond, s.until_pandas))
                    if emit == "all" and optional_like:
                        # The gap before an OPTIONAL/zero-able stage: a
                        # reluctant filler would COMMIT to the first
                        # completion and prune the stage-present NFA
                        # branches (NFAITCase.testZeroOrMoreAfterZeroOr-
                        # More expects {c d1 d2 e} even though {c e}
                        # completes with a shorter gap). Compile it
                        # ENUMERABLE and guarded by NOT(stage's first
                        # condition) — Flink's waiting-state ignore edge
                        # (NFACompiler getIgnoreCondition): the gap may
                        # never swallow an event the stage could take.
                        # Interchangeable gap splits around the absent
                        # branch collapse via the engines' user-row
                        # dedup of enumerated candidates.
                        g_cond, g_pandas, g_iter, g_name = (
                            _first_positive_cond(s.group._stages)
                            if s.group is not None
                            else (s.cond, s.pandas_cond, s.iter_cond, s.name)
                        )
                        toks.append(f"{gap}*")
                        if g_iter is not None:
                            define[gap] = and_negs(F.lit(True), gap_negs)
                            ctx["iter_define"][gap] = (
                                lambda e, c, f=g_iter, flag=f"__sym_{g_name}":
                                not (e.get(flag, True) and f(e, c))
                            )
                            ctx["lgap_pandas"][gap] = (
                                "true", None, pd_negs(gap_negs)
                            )
                        elif g_cond is not None:
                            define[gap] = and_negs(~g_cond, gap_negs)
                            ctx["lgap_pandas"][gap] = (
                                "not_cond", g_pandas, pd_negs(gap_negs)
                            )
                        else:
                            define[gap] = None  # streaming-only
                            ctx["lgap_pandas"][gap] = (
                                "not_cond", g_pandas, pd_negs(gap_negs)
                            )
                    else:
                        # MANDATORY stage gap (round 14, late): the
                        # reluctant filler commits to the first
                        # completion, which equals Flink's forced take
                        # — EXCEPT when that take's continuation dead-
                        # ends (a NOT gap / until / WITHIN kill): the
                        # unguarded filler then slid PAST the take-able
                        # event to a later candidate the NFA never
                        # reaches (the waiting state's ignore is
                        # NOT(take), getIgnoreCondition SKIP_TILL_NEXT).
                        # Guard the filler with NOT(first condition);
                        # committed expansions are unchanged (their gap
                        # never held a take-able event), dead-end slides
                        # become impossible.
                        g_cond, g_pandas, g_iter, g_name = (
                            _first_positive_cond(s.group._stages)
                            if s.group is not None
                            else (s.cond, s.pandas_cond, s.iter_cond, s.name)
                        )
                        toks.append(f"{gap}*?")
                        if g_iter is not None:
                            define[gap] = and_negs(F.lit(True), gap_negs)
                            ctx["iter_define"][gap] = (
                                lambda e, c, f=g_iter,
                                flag=f"__sym_{g_name}":
                                not (e.get(flag, True) and f(e, c))
                            )
                            ctx["lgap_pandas"][gap] = (
                                "true", None, pd_negs(gap_negs)
                            )
                        elif g_cond is not None:
                            define[gap] = and_negs(~g_cond, gap_negs)
                            ctx["lgap_pandas"][gap] = (
                                "not_cond", g_pandas, pd_negs(gap_negs)
                            )
                        else:
                            define[gap] = None  # streaming-only
                            ctx["lgap_pandas"][gap] = (
                                "not_cond", g_pandas, pd_negs(gap_negs)
                            )
                fba_pre = ""
                if s.kind == "followed_by_any":
                    # SKIP_TILL_ANY stage gap: under noSkip enumeration
                    # the filler is GREEDY (branch on every candidate
                    # event for this stage); single-match strategies take
                    # the highest-priority branch = minimal gap
                    # (reluctant), Flink's first surviving computation.
                    # NOT appended to toks: a zero-able/optional stage
                    # must carry its gap INSIDE the optional wrapper, or
                    # the absent branch enumerates junk gap lengths.
                    gap = f"__gap{ctx['gap_n']}"
                    ctx["gap_n"] += 1
                    fba_pre = (f"{gap}*" if emit == "all" else f"{gap}*?") + " "
                    gap_negs = list(extra_negs)
                    if s.negated_gap is not None:
                        gap_negs.insert(0, s.negated_gap)
                    # NOTE: unlike followed_by, the SKIP_TILL_ANY gap is
                    # NOT until-guarded — a branch that skips the stop
                    # event survives (UntilConditionITCase.
                    # testUntilConditionFollowedByAnyOneOrMore expects
                    # {c m3} with the stop BEFORE m3)
                    define[gap] = and_negs(F.lit(True), gap_negs)
                    ctx["lgap_pandas"][gap] = ("true", None, pd_negs(gap_negs))
                q = s.quant
                if (
                    q is not None
                    and q[2] is True
                    and emit == "all"
                    and (i == last_positive or s.name in greedy_term)
                ):
                    q = (q[0], q[1], None)
                if (
                    q is not None
                    and q[2] is True
                    and emit == "all"
                    and s.name in greedy_enum
                ):
                    # guarded greedy: enumerate; _greedy_ok filters
                    # (round 14: inner group-loop leaves too — their
                    # specs anchor per iteration run)
                    q = (q[0], q[1], None)
                is_loop = q is not None and (q[0] > 1 or q[1] is None or q[1] > 1)
                if is_loop and s.fold_not:
                    raise NotImplementedError(
                        "not_next before a looping stage would fold the negation "
                        "into every iteration, not just the first event; use "
                        "not_followed_by() instead"
                    )

                # ---- the matchable unit: a symbol or a compiled group ----
                if s.group is not None:
                    if s.group._within is not None:
                        raise ValueError(
                            "within() on a group pattern is unsupported; "
                            "set it on the outer pattern"
                        )
                    if s.fold_not and (s.quant is not None or s.opt):
                        raise NotImplementedError(
                            "not_next before a quantified/optional group "
                            "would guard every repetition's first event, "
                            "not just the event after the previous stage; "
                            "use not_followed_by() or restructure"
                        )
                    inner_negs = list(extra_negs)
                    if has_until:
                        inner_negs.append((s.until_cond, s.until_pandas))
                    inner = compile_stages(
                        s.group, s.group._stages, tuple(inner_negs), False,
                        first_folds=s.fold_not or None,
                    )
                    unit = "( " + " ".join(inner) + " )"
                    first_cond, first_pandas, first_iter, first_name = _first_positive_cond(
                        s.group._stages
                    )
                else:
                    if s.name in ctx["names"]:
                        raise ValueError(f"duplicate stage name {s.name!r} across groups")
                    ctx["names"].add(s.name)
                    cond = s.cond
                    if cond is None and s.iter_cond is not None:
                        # iterative-only stage: static part is TRUE, the
                        # IterativeCondition decides per branch
                        cond = F.lit(True)
                    body_negs = list(s.fold_not)
                    if has_until:
                        body_negs.append((s.until_cond, s.until_pandas))
                    body_negs.extend(extra_negs)
                    cond = and_negs(cond, body_negs) if cond is not None else None
                    define[s.name] = cond
                    ctx["stage_negs_pd"][s.name] = pd_negs(body_negs)
                    if s.iter_cond is not None:
                        ctx["iter_define"][s.name] = s.iter_cond
                    user_syms.append(s.name)
                    unit = s.name
                    first_cond, first_pandas, first_iter, first_name = (
                        s.cond, s.pandas_cond, s.iter_cond, s.name,
                    )

                zero_lo = q is not None and q[0] == 0
                if q is None:
                    core = unit
                elif not is_loop or s.loop_mode == "strict":
                    # zero-able quantifiers build their >=1 core and get
                    # the optional wrapper below (so a followedByAny gap
                    # can ride inside it)
                    qstr = brace(max(q[0], 1), q[1])
                    core = unit + qstr + (sfx(q[2]) if qstr else "")
                else:
                    # relaxed / combinations looping: per-iteration filler
                    # (Quantifier.java inner SKIP_TILL_NEXT/SKIP_TILL_ANY).
                    # For groups the relaxed filler may not swallow an
                    # event that could START the next repetition (the
                    # NFA's ignore guard is the entry state's take
                    # condition, NFACompiler getIgnoreCondition).
                    lgap = f"__lgap{ctx['gap_n']}"
                    ctx["gap_n"] += 1
                    loop_negs = list(extra_negs)
                    if has_until:
                        loop_negs.insert(0, (s.until_cond, s.until_pandas))
                    if s.loop_mode == "relaxed":
                        if first_iter is not None:
                            # Flink's ignore edge is NOT(take) evaluated
                            # ITERATIVELY (NFACompiler getIgnoreCondition):
                            # the filler may swallow an event that matches
                            # statically but fails the iterative bound. The
                            # static filler column is permissive; the
                            # iterative check reads the body's static flag
                            # off the row dict and re-runs its condition
                            # against the branch's partial match.
                            define[lgap] = and_negs(F.lit(True), loop_negs)
                            ctx["iter_define"][lgap] = (
                                lambda e, c, f=first_iter, flag=f"__sym_{first_name}":
                                not (e.get(flag, True) and f(e, c))
                            )
                            ctx["lgap_pandas"][lgap] = ("true", None, pd_negs(loop_negs))
                        elif first_cond is not None:
                            define[lgap] = and_negs(~first_cond, loop_negs)
                            ctx["lgap_pandas"][lgap] = (
                                "not_cond", first_pandas, pd_negs(loop_negs)
                            )
                        else:
                            define[lgap] = None  # streaming: rebuilt from pandas
                            ctx["lgap_pandas"][lgap] = (
                                "not_cond", first_pandas, pd_negs(loop_negs)
                            )
                        filler = f"{lgap}*?"
                    else:  # combinations: may skip anything but a stop event
                        define[lgap] = and_negs(F.lit(True), loop_negs)
                        ctx["lgap_pandas"][lgap] = ("true", None, pd_negs(loop_negs))
                        filler = f"{lgap}*" if emit == "all" else f"{lgap}*?"
                    if s.group is not None and s.loop_mode == "relaxed":
                        lv = [
                            (st.name,
                             st.opt
                             or (st.quant is not None and st.quant[0] == 0))
                            for st in _positive_leaf_stages(s.group._stages)
                        ]
                        if len(lv) > 1 and lv[-1][1]:
                            # FLUID iteration links (optable tail): the
                            # composed NOT(tail)-gap + NOT(entry)-lgap
                            # grammar admits entry..tail..entry link
                            # gaps the NFA kills (the tail-waiter
                            # force-takes the first tail event, the
                            # boundary copy the first entry). Matchers
                            # post-filter enumerated candidates with
                            # the two-path rule: a link gap after a
                            # tail-absent iteration end must be S-free
                            # for SOME S in {post-end optable conds} ∪
                            # {entry} (one pure ignore path per
                            # surviving NFA copy).
                            ctx["fluid_links"].append(lv)
                    lo, hi, g = q
                    inner_lo, inner_hi = max(lo, 1), hi
                    qstr = brace(inner_lo - 1, None if inner_hi is None else inner_hi - 1)
                    rep = f"( {filler} {unit} )" + qstr + (sfx(g) if qstr else "")
                    core = f"{unit} {rep}"
                if s.opt or zero_lo:
                    # optional()/times(0,n) wrapper: 0 or quant-many
                    # occurrences (times(2).optional() is 0-or-2, never
                    # 1); a followedByAny stage gap belongs INSIDE
                    g_opt = q[2] if q is not None else None
                    if q is None and s.group is None and not fba_pre:
                        tok = unit + "?" + sfx(g_opt, True)
                    else:
                        tok = f"( {fba_pre}{core} )?" + sfx(g_opt, True)
                else:
                    tok = fba_pre + core
                toks.append(tok)
                i += 1
            return toks

        toks = compile_stages(self, self._stages, (), True)
        if not user_syms:
            raise ValueError("pattern has no positive stages")
        # not_next before a relaxed successor: fold the negation into the
        # preceding stage's define via a next-row lookahead (the event
        # DIRECTLY after it must not satisfy the NOT condition)
        for st in _positive_leaf_stages(self._stages):
            if not st.lead_not:
                continue
            if lookahead_window is None:
                raise ValueError(
                    "not_next before a relaxed successor needs the scan "
                    "keys/order for its lead() lookahead — run the pattern "
                    "via CEP.pattern(...), or pass lookahead_window= to "
                    "compile()"
                )
            if any(c is None for c, _p in st.lead_not) or define[st.name] is None:
                define[st.name] = None  # streaming: rebuilt from pandas
                continue
            neg = st.lead_not[0][0]
            for c, _p in st.lead_not[1:]:
                neg = neg | c
            define[st.name] = define[st.name] & ~F.coalesce(
                F.lead(neg, 1).over(lookahead_window), F.lit(False)
            )
        return " ".join(toks), define, user_syms, self._within


class PatternStream:
    """Result of :meth:`CEP.pattern` — select/flat_select mirror
    PatternStream.java (select = ONE ROW PER MATCH aggregation,
    flat_select = ALL ROWS, skipped/filler events excluded)."""

    def __init__(
        self,
        df: DataFrame,
        pattern: Pattern,
        key_by: str | list[str],
        order_by: str | list[str],
        after_match: str = "past_last_row",
    ) -> None:
        self._df = df
        self._pattern = pattern
        self._keys = [key_by] if isinstance(key_by, str) else list(key_by)
        self._order = [order_by] if isinstance(order_by, str) else list(order_by)
        self._after = after_match
        self._side_outputs: dict[str, DataFrame] = {}

    def _compiled(self) -> tuple[str, dict, list[str], dict]:
        """The pattern compiled for this stream's skip strategy ->
        (pattern string, define, user symbols, the keyword arguments
        both match routes share)."""
        # no_skip enumerates EVERY loop expansion (Flink noSkip), so
        # default quantifiers must compile greedy; single-match skip
        # strategies take the first-completed expansion (reluctant).
        # A terminal notFollowedBy also needs the enumerable form: a
        # killed expansion must not kill its surviving siblings.
        stages = self._pattern._stages
        has_tn = bool(stages) and stages[-1].kind == "not_followed_by"
        lookahead = W.partitionBy(*self._keys).orderBy(*self._order)
        pat, define, user_syms, within = self._pattern.compile(
            emit="all" if (self._after == "no_skip" or has_tn) else "first",
            lookahead_window=lookahead,
        )
        if (
            self._pattern._fluid_links or self._pattern._greedy_spans
        ) and not (self._after == "no_skip" or has_tn):
            # fluid iteration links and greedy sink guards force the
            # enumerate+filter route, which needs the enumerable grammar
            pat, define, user_syms, within = self._pattern.compile(
                emit="all", lookahead_window=lookahead,
            )
        # relaxed-contiguity fillers: matches may not ANCHOR on one
        # (Flink computations start at their first TAKEN event)
        fillers = [k for k in define if k not in user_syms]
        shared = dict(
            after_match=self._after,
            within=within,
            iter_define=self._pattern._iter_define or None,
            filler_syms=fillers or None,
            fluid_links=list(self._pattern._fluid_links or []) or None,
            greedy_spans=list(self._pattern._greedy_spans or []) or None,
        )
        return pat, define, user_syms, shared

    def _batch_plan(self) -> tuple[dict, list[str]]:
        """The batch match pass as :func:`match_recognize` keyword
        arguments (one :func:`match_recognize_multi` plan), and the
        user symbols ``flat_select`` keeps. A stage with only a pandas
        predicate raises in the match pass's compile."""
        pat, define, user_syms, shared = self._compiled()
        tn = self._pattern._terminal_not  # (catalyst_cond, pandas_cond) | None
        tn_name = None
        if tn is not None:
            if tn[0] is None:
                raise ValueError(
                    "batch CEP needs a Catalyst condition on the "
                    "terminal notFollowedBy stage"
                )
            tn_name = "__notend"
            define = {**define, tn_name: tn[0]}
        plan = dict(pattern=pat, define=define, terminal_not=tn_name, **shared)
        return plan, user_syms

    def _run(self) -> tuple[DataFrame, list[str]]:
        if not self._df.isStreaming:
            plan, user_syms = self._batch_plan()
            out = match_recognize(self._df, self._keys, self._order, **plan)
            return out, user_syms
        pat, _define, user_syms, shared = self._compiled()
        pandas_define = _build_pandas_define(self._pattern)
        tn = self._pattern._terminal_not  # (catalyst_cond, pandas_cond) | None
        tn_name = None
        if tn is not None:
            if tn[1] is None:
                raise ValueError(
                    "streaming CEP needs a vectorized pandas predicate "
                    "on the terminal notFollowedBy stage"
                )
            tn_name = "__notend"
            pandas_define[tn_name] = tn[1]
        out = streaming_match_recognize(
            self._df,
            self._keys,
            self._order,
            pat,
            pandas_define,
            input_cols=self._df.columns,
            terminal_not=tn_name,
            **shared,
        )
        return out, user_syms

    def flat_select(
        self, timed_out_partial_matches_tag: str | None = None
    ) -> DataFrame:
        """ALL ROWS PER MATCH: input columns + (match_id,
        matched_symbol); relaxed-contiguity skipped events (both stage
        '__gapN' and loop '__lgapN' fillers) excluded — skipped events
        are not part of a Flink match.

        ``timed_out_partial_matches_tag`` mirrors ``PatternStream.
        flatSelect(timedOutPartialMatchesTag, ...)`` (PatternStream.
        java:202-214): when given, the timed-out partial matches are
        computed as a side output retrievable via
        :meth:`get_side_output` — the Spark analog of
        ``SingleOutputStreamOperator.getSideOutput(tag)``."""
        out, user_syms = self._run()
        if timed_out_partial_matches_tag is not None:
            self._side_outputs[timed_out_partial_matches_tag] = (
                self.timed_out_partial_matches()
            )
        return out.where(F.col("matched_symbol").isin(user_syms))

    def get_side_output(self, tag: str) -> DataFrame:
        """Side-output DataFrame registered by a prior
        ``flat_select(timed_out_partial_matches_tag=tag)`` call."""
        if tag not in self._side_outputs:
            raise KeyError(
                f"no side output {tag!r}; pass "
                "timed_out_partial_matches_tag to flat_select() first"
            )
        return self._side_outputs[tag]

    def timed_out_partial_matches(self) -> DataFrame:
        """Flink's timed-out-partial-match side output
        (``PatternStream.flatSelect`` with a ``timedOutPartialMatchesTag``
        + ``TimedOutPartialMatchHandler``, flink-libraries/flink-cep/
        src/main/java/org/apache/flink/cep/PatternStream.java:202-214),
        pinned by NFAITCase.java:405 ``testSimplePatternWithTimeoutHandling``.

        Semantics (derived from the reference test; NFA.advanceTime):
        a timed-out partial match is EVERY live partial branch at its
        horizon ``first_row_ts + within`` — not just the longest prefix
        — tagged with that horizon as ``timeout_ts``. Expiry is
        event-driven: it fires only if the partition has a row at/after
        the horizon (``advanceTime`` runs per arriving event). Whether
        a branch is still live at the horizon depends on the link kind
        of the stage it is WAITING for:

        - ``followed_by_any`` waiters persist after a sibling take, so
          both ``{start}`` and ``{start, middle}`` time out;
        - ``followed_by`` waiters are CONSUMED by the first take-able
          event — the branch is live iff no event satisfying the
          waiting stage's condition lies in ``(last_row_ts, horizon)``;
        - ``next`` waiters die on the adjacent event (it either extends
          the branch or kills it) — live iff NO event at all lies in
          ``(last_row_ts, horizon)``.

        Spark-first compile: for each proper stage-prefix the engine
        enumerates the partial assignments under ``no_skip`` (the branch
        set), then the survival test is a per-partition lookahead —
        ``min(tick) over following rows`` for the first take-able /
        adjacent event and ``max(tick) over partition`` for the
        expiry witness — no range join, one keyed shuffle per prefix.

        Quantified/optional stages (round 10+): a branch's parked NFA
        state decides its survival guard —

        - parked AT a stage's head state (the previous stage's take
          chain exited into it — which for a quantified previous stage
          happens only after exactly ``max`` takes, so infinite loops
          never park at their successor): the OUTER ignore condition,
          ``NFACompiler.getIgnoreCondition`` (NFACompiler.java:901) —
          ``followed_by`` NOT(take), ``next`` none, ``followed_by_any``
          true. An optional waiting stage changes nothing: PROCEED
          edges are epsilon (evaluated per arriving event), so an event
          matching a LATER stage spawns a new branch and leaves the
          waiter alive.
        - parked INSIDE a loop (``1 <= taken < max``; both the
          mandatory ``times`` chain and the optional tail/looping
          state): the INNER ignore condition,
          ``NFACompiler.getInnerIgnoreCondition`` (NFACompiler.java:862)
          — ``consecutive`` none (dies on any event), relaxed (default)
          NOT(take), ``allow_combinations`` true (persists).
          ``NFA.advanceTime`` (NFA.java:259-297) reports EVERY pruned
          partial — a trailing-loop branch times out even though its
          event set already emitted completed matches via PROCEED.
        - MIGRATED COPIES ('IGNORE after PROCEED', NFA.java:621-633):
          the decision graph collects IGNORE edges of every
          proceed-reachable head state, so once a loop met its minimum
          (or an optional waiting stage can be skipped), the first
          event after the last take spawns a parked copy at each
          reachable successor whose OUTER ignore fires — the copy then
          lives (and times out) under that successor's own consumption
          rule. This is what lets the reference's consecutive() docs
          matrix match ``C A1 B`` past an adjacent take-able ``A2``; a
          partial is emitted iff ANY of its computations survives, and
          computations sharing an event set collapse to one output row
          (NFAITCase compares sets).

        Mid-loop branches are enumerated in ONE engine pass per loop
        stage: the prefix ending at the loop with quantifier relaxed to
        ``(1, max-1)`` — every assignment the ITCase-pinned no_skip
        enumerator emits is exactly a live parked branch (its inner-gap
        guards are the ignore conditions above).

        Output: the partial match's rows (input columns +
        ``matched_symbol``) with ``timeout_id`` (unique with the keys)
        and ``timeout_ts`` (order-column units; timestamp orders give a
        timestamp, numeric orders a double).

        AfterMatchSkipStrategy (round 11): under a skip strategy an
        emitted match additionally PRUNES partial branches — silently,
        they never reach the side output (``NFA.java:396-436``
        ``processMatchesAccordingToSkipStrategy`` +
        ``aftermatch/AfterMatchSkipStrategy.prune``). The reference
        dynamics, replayed exactly by ``skip_prune_verdicts``:
        completed matches queue by START event and one is emitted only
        when no live partial starts strictly earlier, so a
        never-completing earlier partial DEFERS the emission until its
        own horizon reports it; at the emission event, live partials
        with start event <= pruningId are discarded (STRICT < for
        SKIP TO FIRST/LAST), where pruningId = the match's last event
        (``past_last_row``), first event (``to_next_row``), or the
        first/last event mapped to SYM (``to_first/to_last SYM``). A
        partial whose horizon is <= the emission tick was already
        reported by that event's ``advanceTime`` and is NOT pruned.
        Matches come from the same sequential matcher as the match
        output (first-completed surviving expansion per start — the
        reference's earliest-completion winner among same-start
        candidates, pinned by the cep.md skip-matrix tests). Cost: the
        skip route runs the prefix enumerations twice (once for the
        partial summaries feeding the prune replay, once for the
        output join) plus one full-pattern match pass and one keyed
        shuffle of (key, rid, tick) for the emission replay.

        Scope: every skip strategy on BOTH routes (round 12 lifted the
        streaming SKIP TO FIRST/LAST guard: the incremental sequential
        matcher resumes AT the mapped element via ``_resume_pos``; the
        resume point is always >= the match start >= frontier − within,
        so the overlapping rescan stays inside the horizon-bounded
        keyed buffer, and SkipToElement pruning uses STRICT <).

        STOP-edge kills (round 11): ``until()`` on a non-greedy loop
        and mid-pattern ``notFollowedBy`` are supported as KILL SCANS —
        the reference compiles them into stop transitions
        (NFACompiler.java:785-830 extends take/inner-ignore with
        NOT(until) + ``addStopStateToLooping``; ``addStopStates`` for
        NOT gaps), so a parked branch silently dies when a matching
        event lands in its gap before the horizon: alive iff no kill
        event in ``(last take, horizon)``. The loop's until guards
        both the mid-loop branch and the waiting head (r8
        dual-dialect); a NOT gap guards the waiting head AND any
        migrated copy parked behind it, while a branch INSIDE a loop
        has discharged its entry-gap NOT with its first take. NOT
        stages inside a prefix ride the prefix matcher's gap fillers
        (an N in an inner gap kills the branch before it ever parks).

        ``not_next`` (round 11, NotPatternITCase adjacency): a strict
        fold onto a 'next' successor changes take-ability only (the
        waiter dies on any event regardless); before a RELAXED
        successor the parked waiter dies iff the FIRST event of its
        gap matches — an 'adj' kill scan (the carrier's horizon-blind
        ``lead()`` fold is stripped from terminal prefix stages and
        reapplied horizon-aware, so an adjacent kill event at/after
        the horizon loses to ``advanceTime``).

        ``greedy()`` (round 12): the reference ANDs NOT(takeCondition)
        onto EVERY transition of the greedy stage's PROCEED sink
        (``NFACompiler.updateWithGreedyCondition``), so branches parked
        at the successor state — the maxed-out head waiter and mid-loop
        migrated copies — silently die on any greedy-take-able event in
        their gap: exactly a 'gap' KILL SCAN on the greedy stage's own
        take condition (terminal greedy is ignored, GreedyITCase).
        ``reluctant()`` needs no handling: it is this engine's
        match-emission extension (deterministic shortest COMPLETION);
        it never changes which branches are live, so the parked set
        equals the default's.

        Group patterns (round 12): unquantified, non-optional,
        until-free groups FLATTEN — NFACompiler converts a non-looping
        GroupPattern's inner pattern in place between its neighbours,
        so the inlined leaf list produces the identical parked shapes
        (park at the group's head leaf, inside it at each inner waiting
        position, and past it). notFollowedBy before a followedByAny
        stage rides the same negated_gap kill as before followed_by
        (NotPatternITCase.testNotFollowedBy pins the scope). Terminal
        ``notFollowedBy`` under no_skip needs no handling at all: its
        stop edges attach to the post-prefix PENDING state only.

        Quantified/optional groups (round 12, late): parked shapes
        enumerate per iteration topology — inside the first iteration
        (entry-linked inner chain), inside iteration j+1 (group
        quantified 1..mx-1 + relaxed-linked inner chain), and BETWEEN
        iterations (consume on the group's entry condition — the r8
        group-loop filler guard = the NFA ignore edge; PROCEED copies
        gated by entry-leaf take count >= the loop minimum); a maxed
        bounded group parks at the successor via the head-park plans.

        Late round 12 lifts: terminal ``notFollowedBy`` under a skip
        strategy on batch (pendings complete AT horizon close, so the
        emission replay runs with match etick = horizon); not_next
        before optional/zero-able successors (copies inherit the
        park-level 'adj' kill — every PROCEED evaluates on the same
        first gap event); until() on group loops (stop edges guard
        every looping position: a 'gap' kill on all group-plan
        primaries, with the in-progress iteration wrapped as an
        unquantified partial group so compile threads NOT(until) into
        its inner takes and gaps); consecutive()/allowCombinations()
        iteration contiguity on group loops (between-iterations rule
        'any'/'persist', iteration link next/followedByAny); interior
        greedy (prefixes de-greedy to enumerate every expansion, then a
        per-assignment SPAN kill drops expansions with a
        greedy-take-able event in (last greedy take, next taken row] —
        the sink guard replayed, batch route only); and greedy before
        an optional successor (copies beyond the sink spawn-block on a
        greedy-take-able FIRST gap event: an 'adj' kill). The span-kill
        enumeration and the horizon-close pending completion both run
        on the STREAMING route too (numpy span scans per enumerated
        expansion; the incremental cursor treats terminal-NOT
        sequences as pendings). Zero-take guard split: a BOUNDED
        zero-able greedy times-loop guards the ORIGINAL successor
        (zero-take copies and span expansions included); an unbounded
        optional loop guards only its sink COPY (zero-take exempt).

        Round-13 lifts: greedy + allow_combinations (the ignoreState
        has no PROCEED edge, so the sink-jump rule equals relaxed
        greedy's — existing kills suffice; the match surface switched
        from possessive commit to enumerate + _greedy_ok span filter,
        which also fixed early-completion matches the commit dropped);
        ITERATIVE conditions on scanned stages (per-branch re-
        evaluation: a cogrouped pandas pass on batch, the candidate
        walk on streaming); OPTIONAL group-loop ENTRY leaves (the
        waiter parks at the optable head state whose ignore is
        NOT(head) only — extra 'fb' copies per optable-chain state,
        iteration counting by the first mandatory leaf); and the
        zero-take guard-split correction (without prior NOTs,
        copyWithoutTransitiveNots returns its argument, so zero-take
        routes share the guarded sink).

        UNBOUNDED inner loops inside group loops run too (round 13,
        late): Gq mid-loop plans park branches inside the inner loop
        per iteration topology (the inner relaxed ignore only forbids
        skipping the loop's own take-able events, so completions FORK
        off copies without consuming the loop branch); positions after
        an unbounded inner loop exist only as its migrated copies (no
        exit-by-take); TAIL-loop groups have no distinct between-state
        (the loop branch IS the waiter — the Gq boundary/successor
        copies subsume the between and head-park plans, their
        mandatory-leaf count gates closing the books at mx).

        Round-14 lifts: BOUNDED nested quantifiers in group loops
        (dual runtime counters — parked-inside plans cap the times
        chain at (1, hi-1) with PROCEED copies gated on a second,
        current-iteration count column over the un-renamed loop
        symbol; exit-by-max parks pin the chain at (hi, hi) via
        _chain_forced; bounded TAILS ride the pinned wA/wB
        between-plans; times_or_more(n>=2) minima gate the same way);
        iterative conditions under a STREAMING skip strategy (the
        incremental cursor threads a flag-carrying IterativeCondition
        context); and every plan's prefix enumeration — plus, under a
        skip strategy, the full pattern's sequential pass — runs in ONE
        consolidated match pass (match_recognize_multi) instead of one
        keyed shuffle per parked shape.

        UNBOUNDED greedy inner loops in group loops run too (round 14,
        late): compile's per-run span specs filter the prefix
        enumerations (a completed iteration whose sink jump crossed a
        loop-take-able event never existed — _greedy_ok anchors per
        maximal run, __gq-stripped), and the loop's migrated sink copy
        carries a 'gap' kill on the loop's own take condition
        (updateWithGreedyCondition guards every sink transition,
        ignore included). BOUNDED greedy inner loops stay guarded
        (_chain_forced pins them exact-times, which emits no span
        spec).

        Group loops with NO plain mandatory inner leaf run when no
        iteration-count gate is materialized (round 14, late: lo <= 1
        and unbounded mx need none). Such iterations can both continue
        and complete on the same loop take, so a k-take run and its
        split across iterations are distinct live computations over
        identical rows — the reference reports ONE partial per event
        set (NFAITCase), replayed by a set-level cross-plan dedup
        (streaming: phase-3 signature set; batch: an output-sized
        collapse pass, enabled only for this shape class).

        until() on INNER loops inside group loops runs too (round 14,
        late): the stop edges live on the loop's own states
        (addStopStateToLooping + the init state, r8 dual dialect), so
        every wait AT or park INSIDE the loop — the head/between/
        boundary entry waits, the optable-chain copies, the Gq
        primaries and the loop-targeting 'fb' copies — carries a 'gap'
        kill on the until condition (_leaf_until_kill), while sink
        copies cross the stop event (UntilConditionITCase's
        completion-survives rule); the match/prefix compile already
        threads NOT(until) into the loop's takes and iteration gaps.

        Interior notFollowedBy folds inside group loops run too
        (round 14, late): the prefix chains carry the NOT stages (the
        compile re-derives each iteration copy's negated_gap folds),
        and the NOT gap kills the waits AT its carrier leaf in every
        iteration (_leaf_not_kill) — the between/boundary/head entry
        waits and positions past the carrier are untouched (the take
        discharged the NOT).

        Remaining loud guards: BOUNDED greedy loops and greedy+until
        loops inside group loops; leading/trailing inner NOTs and
        NOTs before loops/optionals in a group loop;
        all-loop-mandatory group loops that DO need an
        iteration-count gate (bounded repetitions or minimum >= 2 —
        nothing to count iterations by); and not_next folds onto
        non-strict/quantified carriers.
        Optional-tail group loops (fluid iteration links) run
        everywhere — batch, streaming, and under skip strategies on
        both routes — via the two-path link filter.
        """
        from pyspark.sql import Window as SW

        from reshape_on_flink_spark.operators.cep import _within_delta

        pattern, within = self._pattern, self._pattern._within
        if within is None:
            raise ValueError(
                "timed-out partial matches need a within() bound "
                "(NFA.advanceTime has no horizon without one; Flink "
                "emits no timeouts for unbounded patterns)"
            )
        raw = pattern._stages
        # fold attributes (negated_gap / fold_not / lead_not) are compile
        # artifacts — materialize them before reading (compile resets
        # then re-derives them from the NOT stages)
        pattern.compile(
            emit="first",
            lookahead_window=W.partitionBy(*self._keys).orderBy(*self._order),
        )

        # group patterns (round 12): an UNQUANTIFIED, non-optional,
        # until-free group compiles to its inner states INLINED, with the
        # outer link's contiguity applied to the first inner leaf — the
        # same state graph a flat pattern would produce (NFACompiler
        # convertPattern: a non-looping GroupPattern's inner pattern is
        # converted in place between its neighbours). Flattening it here
        # lets every parked-shape plan below apply uniformly: branches
        # park AT the group's head leaf (the entry gap's kills included)
        # and INSIDE the group at each inner waiting position. The
        # outer compile above already pushed the group-level folds
        # (not_next / notFollowedBy before the group) onto the inner
        # head leaf; the entry link kind and the outer negated_gap move
        # with the head here.
        def _flatten(sl):
            out = []
            for s in sl:
                if s.group is None:
                    out.append(s)
                    continue
                if s.quant is not None or s.opt:
                    # quantified/optional groups stay as group stages —
                    # the loop-plan builder below enumerates their
                    # mid-iteration parked shapes (round 12)
                    out.append(s)
                    continue
                if s.until_cond is not None or s.until_pandas is not None:
                    # DEFENSIVE ONLY (verified round 13): until() on an
                    # UNQUANTIFIED group is unconstructible — the
                    # builder raises "until() is only applicable to
                    # looping stages (Pattern.java:228)" before any
                    # such stage can exist. Quantified-group until()
                    # runs via the G-plan machinery below.
                    raise NotImplementedError(
                        f"timeout side output: until() on group "
                        f"{s.name!r} — the stop edge guards every "
                        "inner waiting position (untraced)"
                    )
                inner = _flatten(list(s.group._stages))
                head = dataclasses.replace(
                    inner[0],
                    kind=s.kind,
                    negated_gap=(
                        inner[0].negated_gap
                        if inner[0].negated_gap is not None
                        else s.negated_gap
                    ),
                )
                out.append(head)
                out.extend(inner[1:])
            return out

        raw = _flatten(raw)
        skip_mode, skip_sym = _parse_after_match_cep(
            self._after, [s.name for s in raw]
        )
        # SKIP TO FIRST/LAST streams too (round 12): the incremental
        # matcher resumes AT the mapped element via _resume_pos — the
        # resume point is >= the match start >= frontier − within, so
        # the overlapping rescan never leaves the horizon-bounded buffer
        # terminal notFollowedBy (round 12): its stop edges attach to
        # the POST-PREFIX pending state only (the full-pattern branch
        # waiting for its horizon to close N-free — the terminal_not
        # match surface), so proper-prefix parked shapes are untouched
        # and the no_skip timeout set needs no handling at all. Under a
        # skip strategy (batch, late round 12) the pendings fold into
        # the existing machinery because EVERY terminal-NOT match
        # completes AT its horizon close (NFA.java advanceTime turns a
        # timed-out isPending computation into a potential match, so
        # completion tick = start + within):
        # - completions are co-ordered with starts, so the sequential
        #   first-completed-per-start matcher (mrows below) replays
        #   processMatchesAccordingToSkipStrategy's completedMatches
        #   pruning exactly — a pending pruned by an earlier emission
        #   is a start the matcher never resumes into;
        # - the replay just needs __etick = the HORIZON (not the last
        #   matched row's tick): a parked partial whose horizon lies in
        #   (last row, match horizon] is reported by an earlier
        #   advanceTime and must escape the prune;
        # - pendings never DEFER emissions: a pending with start s
        #   gates only matches with later starts, whose completion
        #   (their horizon) is >= s's own horizon >= any tick where s's
        #   pending completes or is N-killed — so no gate entries.
        # The streaming route mirrors this in the operator's
        # incremental full-pattern cursor: a found sequence is PENDING
        # until its horizon — killed if an N event lands in (last row,
        # horizon), else completing with e_tick = the horizon.
        terminal_tn = bool(raw) and raw[-1].kind == "not_followed_by"
        # positive-stage view: NOT stages fold onto their neighbours
        # (negated_gap / fold_not / lead_not) and stay inside prefix
        # slices via raw_pos
        _NOT_KINDS = ("not_next", "not_followed_by")
        stages = [s for s in raw if s.kind not in _NOT_KINDS]
        raw_pos = [
            i for i, s in enumerate(raw) if s.kind not in _NOT_KINDS
        ]
        has_loop = any(
            s.quant is not None and s.quant[:2] != (1, 1) for s in stages
        )
        if len(stages) < 2 and not has_loop:
            raise ValueError(
                "a single-stage pattern has no proper prefix to time out"
            )
        # greedy()/reluctant() (round 12). reluctant() needs NO timeout
        # handling: it is this engine's match-emission extension
        # (deterministic shortest COMPLETION per start — Flink has no
        # reluctant); commitment happens at completion time and never
        # changes which branches are LIVE, so the parked set equals the
        # default's. greedy() compiles to derived KILL SCANS below: the
        # reference ANDs NOT(takeCondition) onto EVERY transition of the
        # greedy stage's PROCEED sink (NFACompiler.java
        # updateWithGreedyCondition), so a branch parked at the successor
        # state — the maxed-out head waiter or a mid-loop migrated copy —
        # silently dies on any greedy-take-able event in its gap (it can
        # neither take nor ignore it).
        #
        # greedy + allow_combinations (round 13): needs NO machinery
        # beyond the existing kills. In the compiled NFA the PROCEED
        # edge lives only on the looping state (the ignoreState copy has
        # take/ignore edges but no PROCEED — NFACompiler createLooping),
        # so the ONLY routes from the loop to the sink are (a) a direct
        # sink take at the first gap event after a loop take, or (b) an
        # IGNORE-after-PROCEED copy parked at the sink, spawned at that
        # same first gap event — and both carry the sink's NOT(take)
        # guard. The TRUE inner ignore keeps the mid-loop branch itself
        # alive forever (primary 'persist' below) and lets it take later
        # loop events after skipping some (the fluid subset enumeration
        # of the de-greedied prefix), but it never re-opens a PROCEED
        # from the ignoreState: the sink-jump rule is identical to the
        # relaxed-greedy one (no greedy-take-able event in (last loop
        # take, next taken row]) — exactly the existing 'gap'/'adj'
        # kills and the interior-greedy span kill.
        for si, s in enumerate(stages):
            if s.fold_not and (
                s.kind != "next" or s.quant is not None or s.opt
            ):
                raise NotImplementedError(
                    f"timeout side output: stage {s.name!r} carries a "
                    "not_next fold onto a non-strict/quantified stage — "
                    "only the strict-successor fold (take = B AND "
                    "NOT(N) on the adjacent row; the waiter dies on any "
                    "event regardless) is supported"
                )
            if s.lead_not and si + 1 >= len(stages):
                # defensive: the builder rejects terminal notNext, so a
                # trailing lead_not carrier should be unconstructible
                raise NotImplementedError(
                    f"timeout side output: not_next after the terminal "
                    f"stage {s.name!r} has no successor to anchor the "
                    "adjacency"
                )
            # not_next before an OPTIONAL/zero-able successor (round 12,
            # late): a branch parked at the successor's head spawns
            # migrated copies past it; every PROCEED in that chain
            # evaluates on the SAME first gap event (the NFA's notNext
            # state PROCEEDs to stop on N and through to the successor
            # on NOT(N), both at the next event), and the builder bans
            # quantified/optional lead_not carriers — so the copies just
            # inherit the park-level 'adj' kill (applied below).
            # notFollowedBy before a followedByAny stage (round 12): the
            # NOT compiles stop transitions on the SKIP_TILL_ANY waiting
            # state like on any other — the engine's match surface pins
            # the kill scope via NotPatternITCase.testNotFollowedBy ('a
            # ^b c(any) d' over 'a c1 b c2 d': the waiter's gap crossing
            # b dies, the already-taken c1 child survives) — so the
            # existing negated_gap 'gap' kill in _kills_for covers it.

        def _prefix_raw(k: int) -> list:
            """Raw-stage prefix ending just before positive stage k,
            with trailing NOT stages stripped (the waiting stage's
            entry-gap NOT becomes a kill scan on the parked branch,
            not part of the prefix); inner NOT stages stay so the
            prefix matcher enforces their gaps."""
            sl = list(raw[: raw_pos[k]])
            while sl and sl[-1].kind in _NOT_KINDS:
                sl.pop()
            return sl

        keys, order = self._keys, self._order
        ocol = order[0]
        is_time = dict(self._df.dtypes)[ocol].startswith("timestamp")
        delta = float(_within_delta(within, is_time))
        tick = (
            F.unix_micros(F.col(ocol)).cast("double")
            if is_time
            else F.col(ocol).cast("double")
        )
        wpart = SW.partitionBy(*keys)
        word = SW.partitionBy(*keys).orderBy(*order)
        wfollow = word.rowsBetween(1, SW.unboundedFollowing)
        base = (
            self._df.withColumn("__to_tick", tick)
            .withColumn("__to_rid", F.row_number().over(word))
            .withColumn("__to_pmax", F.max("__to_tick").over(wpart))
            .withColumn("__to_next_any", F.min("__to_tick").over(wfollow))
        )
        user_cols = self._df.columns

        n = len(stages)
        streaming = self._df.isStreaming
        # survival-scan registry: key -> (catalyst cond | None = scan any
        # event, pandas cond, iterative flag source name). String keys so
        # inner-group waiting positions can register scans too (round 12)
        scan_specs: dict[str, tuple] = {}

        def _need_scan_cond(key, cond, pcond, iter_cond, what, name) -> str:
            """Register a take-condition survival scan — a Catalyst
            lookahead column on the batch route, a pandas predicate on
            the streaming route. An ITERATIVE condition (round 13)
            makes take-ability branch-dependent: the static part still
            compiles to the shared column/array, and each parked
            branch re-evaluates the iterative part per statically-
            viable gap event with ITS OWN partial match as the
            IterativeCondition.Context — a cogrouped pandas pass on
            the batch route, the in-loop candidate walk on streaming."""
            if streaming:
                if pcond is None and iter_cond is None:
                    raise ValueError(
                        f"streaming timeout side output needs a "
                        f"vectorized pandas predicate on {what} "
                        f"{name!r}"
                    )
            elif cond is None and pcond is not None and iter_cond is None:
                raise ValueError(
                    f"timeout side output needs a Catalyst "
                    f"condition on {what} {name!r}"
                )
            scan_specs[key] = (cond, pcond, iter_cond)
            return key

        def _need_scan(i: int, what: str) -> str:
            stage = stages[i]
            return _need_scan_cond(
                f"s{i}", stage.cond, stage.pandas_cond, stage.iter_cond,
                what, stage.name,
            )

        def _has_cond(s) -> bool:
            # an iterative-only stage is CONDITIONED (static part true,
            # take-ability per branch) — round 13; without this it fell
            # through to the unconditioned-fb 'any' primary
            return (
                s.cond is not None
                or s.pandas_cond is not None
                or s.iter_cond is not None
            )

        # kill scans (round 11): STOP-edge conditions that silently
        # discard a parked branch when a matching event lands in its
        # gap — until() on a loop (NFACompiler.java:785-830 extends
        # take/inner-ignore with NOT(until) and adds the stop state;
        # r8's dual-dialect finding: the stop also guards the waiting
        # head) and notFollowedBy before the waiting stage (the NOT
        # compiles stop transitions on the waiting state). Registered
        # as (catalyst, pandas) pairs; batch scans them like take
        # conditions, streaming evaluates the pandas form on the gap.
        kill_specs: dict[str, tuple] = {}

        def _need_kill(key: str, cond, pcond, what: str) -> str:
            if streaming:
                if pcond is None:
                    raise ValueError(
                        f"streaming timeout side output needs a pandas "
                        f"form of the {what}"
                    )
            elif cond is None:
                raise ValueError(
                    f"timeout side output needs a Catalyst form of the "
                    f"{what}"
                )
            kill_specs[key] = (cond, pcond)
            return key

        def _kills_for(idx: int, waiting_head: bool) -> tuple:
            """Kill specs for a branch parked at stage idx's head
            (waiting_head=True: the entry gap's notFollowedBy and a
            preceding not_next adjacency apply) or inside its loop
            (the NOT was discharged by the first take; only the until
            stop remains). Each entry is (flavor, key): 'gap' = dies
            on ANY matching event in (last take, horizon); 'adj' =
            dies iff the FIRST event in the gap matches (not_next —
            NotPatternITCase strict adjacency)."""
            s = stages[idx]
            out = []
            if s.until_cond is not None or s.until_pandas is not None:
                out.append(("gap", _need_kill(
                    f"u{idx}", s.until_cond, s.until_pandas,
                    f"until() condition of {s.name!r}",
                )))
            if waiting_head and s.negated_gap is not None:
                out.append(("gap", _need_kill(
                    f"g{idx}", s.negated_gap[0], s.negated_gap[1],
                    f"notFollowedBy condition before {s.name!r}",
                )))
            if waiting_head and idx > 0 and stages[idx - 1].lead_not:
                ln = stages[idx - 1].lead_not
                cond = pcond = None
                if all(c is not None for c, _p in ln):
                    cond = ln[0][0]
                    for c, _p in ln[1:]:
                        cond = cond | c
                if all(p is not None for _c, p in ln):
                    pds = [p for _c, p in ln]

                    def pcond(pdf, _pds=tuple(pds)):
                        col = _pds[0](pdf)
                        for g in _pds[1:]:
                            col = col | g(pdf)
                        return col

                if cond is None and pcond is None:
                    raise ValueError(
                        f"not_next negation after "
                        f"{stages[idx - 1].name!r} has no usable form"
                    )
                out.append(("adj", _need_kill(
                    f"a{idx}", cond, pcond,
                    f"not_next condition after {stages[idx - 1].name!r}",
                )))
            if s.group is not None:
                # until() on the group's HEAD inner loop (round 14,
                # late): the head wait parks at that loop's init state,
                # which carries the stop edge (r8 dual dialect)
                out.extend(_leaf_until_kill(
                    _flatten(list(s.group._stages))[0], f"h{idx}"
                ))
            return tuple(out)

        def _leaf_until_kill(st2, tag: str) -> tuple:
            """Stop-edge kill for until() on a group-INNER loop leaf
            (round 14, late): NFACompiler attaches the stop transitions
            to the loop's own states (addStopStateToLooping + the init
            state, the r8 dual dialect), so branches waiting AT or
            parked INSIDE the loop die on an until event in their gap.
            Positions PAST the loop are unguarded — a sink copy crosses
            the stop event (UntilConditionITCase's completion-survives
            rule, confirmed by the round-14 match probes)."""
            if st2.until_cond is None and st2.until_pandas is None:
                return ()
            return (("gap", _need_kill(
                f"giu_{tag}_{st2.name}", st2.until_cond, st2.until_pandas,
                f"until() condition of group inner loop {st2.name!r}",
            )),)

        def _optable(s) -> bool:
            return s.opt or (s.quant is not None and s.quant[0] == 0)

        def _chain(i: int) -> list[int]:
            """Head states PROCEED-reachable from (and including) stage
            i — i itself, then onward while stages stay optional."""
            out = []
            while i < n:
                out.append(i)
                if not _optable(stages[i]):
                    break
                i += 1
            return out

        def _group_chain_copies(t: int, gstage, kls) -> list[tuple]:
            """Extra entry-wait computations for a group with an
            OPTABLE head chain (round 13): the waiter at the head
            leaf's state spawns 'IGNORE after PROCEED' copies at every
            deeper chain state up to the first mandatory leaf — the
            partial survives iff any of them does. Chain leaves are
            plain (the group-plan builder's leaf check ran for every
            quantified group in the pattern)."""
            gi = _flatten(list(gstage.group._stages))
            out = []
            for j in range(1, len(gi)):
                if not _optable(gi[j - 1]):
                    break
                st2 = gi[j]
                out.append((
                    "fb",
                    _need_scan_cond(
                        f"gi{t}_{j}", st2.cond, st2.pandas_cond,
                        st2.iter_cond, "group inner stage", st2.name,
                    ),
                    kls + _leaf_until_kill(st2, f"hc{t}"),
                    None,
                ))
            return out

        def _copies_for(targets: list[int], greedy=None) -> list[tuple]:
            """Migrated-copy survival specs for 'IGNORE after PROCEED'
            branches (NFA.java:621-633): the decision graph collects
            IGNORE edges of every proceed-reachable head state, so a
            branch whose own ignore fails still spawns a parked copy at
            head(t) whenever head(t)'s OUTER ignore fires — fb NOT(take),
            fba true, next none. The copy spawns at the first event
            after the last take (the trigger) and then lives under
            head(t)'s own consumption rule, so: copy times out iff SOME
            event precedes the horizon AND (fb) no take_t does.

            ``greedy``: tuple of (kill_key, sink_idx) — each preceding
            greedy stage guards its PROCEED sink: the copy AT the sink
            dies on any greedy-take-able gap event ('gap'); copies
            BEYOND it spawn only if the first gap event passes the
            sink's guard ('adj')."""
            out = []
            for t in targets:
                st = stages[t]
                if st.kind == "next":
                    continue  # no ignore edge -> no migrated copy
                kls = _kills_for(t, True)
                for gkey2, sink in greedy or ():
                    kls = (*kls, ("gap" if t == sink else "adj", gkey2))
                if st.kind == "followed_by_any":
                    out.append(("fba", None, kls, None))
                elif st.group is not None:
                    # copy parked at a group target consumes on the
                    # group's entry condition (first positive leaf);
                    # an optable head chain adds one copy per deeper
                    # chain state (round 13)
                    ec, ep, ei, en = _first_positive_cond(st.group._stages)
                    out.append((
                        "fb",
                        _need_scan_cond(
                            f"ge{t}", ec, ep, ei,
                            "entry condition of group", st.name,
                        ),
                        kls,
                        None,
                    ))
                    out.extend(_group_chain_copies(t, st, kls))
                elif _has_cond(st):
                    out.append((
                        "fb",
                        _need_scan(t, "migration target"),
                        kls,
                        None,
                    ))
                # unconditioned followed_by: NOT(take)=false, never fires
            return out

        def _greedy_key(g: int) -> str:
            """Kill-spec key for greedy stage g's take condition.
            updateWithGreedyCondition ANDs NOT(take) onto every
            transition of the PROCEED sink, so: a branch parked AT the
            sink dies on any g-take-able event in its gap (a 'gap'
            kill), and a migrated copy BEYOND the sink (reached through
            an optional sink via ignore-after-PROCEED) could only spawn
            at a first gap event that passes the sink's guard — it dies
            iff that event is g-take-able (an 'adj' kill); once at the
            later state it is unguarded."""
            s = stages[g]
            return _need_kill(
                f"gr{g}", s.cond, s.pandas_cond,
                f"greedy take condition of {s.name!r}",
            )

        def _rename_group(g):
            # prefixes holding a completed-iterations group AND flat
            # copies of its leaves suffix the group side to satisfy the
            # compiler's cross-group name uniqueness; the output strips
            # the suffix back off matched_symbol
            g2 = Pattern()
            g2._stages = [
                dataclasses.replace(st, group=_rename_group(st.group))
                if st.group is not None
                else dataclasses.replace(st, name=st.name + "__gq")
                for st in g._stages
            ]
            return g2

        def _wrap_iter(gs, chain, kind):
            """Prefix stages for an in-progress/final group iteration:
            the taken leaf chain linked by ``kind``. With until() on
            the group, wrap as an unquantified group on the carrier so
            compile threads NOT(until) into inner bodies and gaps."""
            if gs.until_cond is None and gs.until_pandas is None:
                return [dataclasses.replace(chain[0], kind=kind),
                        *chain[1:]]
            part = Pattern()
            part._stages = [dataclasses.replace(st) for st in chain]
            return [dataclasses.replace(
                gs, group=part, quant=None, opt=False, kind=kind,
            )]

        def _fluid_specs(sts):
            """Two-path link specs for synthesized timeout prefixes:
            the compile only generates them for LOOPING groups, but a
            1b/between/head-park prefix holds the completed iterations
            as a possibly non-looping group followed by a FLAT current-
            iteration chain — the group-to-chain link is fluid too, and
            the filter keys rows by suffix-stripped leaf NAME, so one
            spec per optable-tail group covers both sides."""
            out = []
            for st in sts:
                if st.group is None:
                    continue
                lv = [
                    (ps.name[:-4] if ps.name.endswith("__gq") else ps.name,
                     ps.opt
                     or (ps.quant is not None and ps.quant[0] == 0))
                    for ps in _positive_leaf_stages(st.group._stages)
                ]
                if len(lv) > 1 and lv[-1][1]:
                    out.append(lv)
            return out

        def _iter_link(gs):
            return {
                "relaxed": "followed_by",
                "strict": "next",
                "combinations": "followed_by_any",
            }[gs.loop_mode or "relaxed"]

        # plan entries: (pre_stages, tag, primary, copies, loop_gate)
        plans = []
        # plan shapes are event-set-disjoint by construction EXCEPT for
        # group loops whose iteration can both continue and complete on
        # the same loop take (no plain mandatory inner leaf, round 14
        # late): a k-take run and its split across two iterations are
        # distinct live computations over identical rows, and the
        # reference reports ONE partial per event set — the final
        # assembly then runs a set-level dedup pass
        overlap_dedup = False
        # -- branches parked AT a stage's head state (last take exited
        # the previous stage's chain — only possible after exactly max
        # occurrences of it; infinite loops never exit by take). If the
        # waiting stage is optional, PROCEED-reachable successors add
        # migrated copies. -----------------------------------------------
        for k in range(1, n):
            prev = stages[k - 1]
            if prev.quant is not None and prev.quant[1] is None:
                continue  # oneOrMore/zeroOrMore: never parks at stage k
            if prev.group is not None and (prev.quant is not None or prev.opt):
                g_last = _flatten(list(prev.group._stages))[-1]
                if g_last.quant is not None:
                    # a tail-loop group never exits by take (the inner
                    # loop is unbounded); the successor wait lives as
                    # the Gq plans' copies (round 13)
                    continue
            pre_stages = _prefix_raw(k)
            if prev.quant is not None or prev.opt:
                mx = 1 if prev.quant is None else prev.quant[1]
                g_inner = (
                    _flatten(list(prev.group._stages))
                    if prev.group is not None
                    else None
                )
                if g_inner is not None and g_inner[-1].opt:
                    # maxed GROUP with an optable final leaf (round 12,
                    # late): a final iteration completed WITHOUT its
                    # tail is already covered by the waiting-position
                    # plans' successor copies — restrict this prefix to
                    # final-tail-present assignments to avoid cross-plan
                    # duplicates
                    chain = [dataclasses.replace(st) for st in g_inner]
                    chain[-1] = dataclasses.replace(chain[-1], opt=False)
                    head2 = pre_stages[:-1]
                    if mx is not None and mx >= 2:
                        gpr = dataclasses.replace(
                            prev,
                            quant=(mx - 1, mx - 1, None),
                            opt=False,
                            group=_rename_group(prev.group),
                        )
                        pre_stages = [
                            *head2, gpr,
                            *_wrap_iter(prev, chain, _iter_link(prev)),
                        ]
                    else:
                        pre_stages = [
                            *head2, *_wrap_iter(prev, chain, prev.kind),
                        ]
                else:
                    pre_stages[-1] = dataclasses.replace(
                        prev,
                        quant=None if prev.quant is None else (mx, mx, None),
                        opt=False,  # absent branch parks at prev's head
                    )
            if pre_stages[-1].lead_not:
                # the terminal carrier's lead() fold is horizon-blind
                # (an adjacent kill event BEYOND the horizon must not
                # erase a branch advanceTime reports first) — strip it;
                # the 'adj' kill scan reapplies it horizon-aware
                pre_stages[-1] = dataclasses.replace(
                    pre_stages[-1], lead_not=[]
                )
            waiting = stages[k]
            # the waiting state is prev's PROCEED sink: a maxed-out
            # greedy prev kills the waiter on any prev-take-able gap
            # event (sink-guard); subsumed for 'any' waiters, which die
            # on every gap event regardless
            gkey = (
                _greedy_key(k - 1)
                if prev.quant is not None and prev.quant[2] is True
                else None
            )
            gk = (("gap", gkey),) if gkey is not None else ()
            head_kills = _kills_for(k, True)
            if waiting.group is not None and waiting.kind == "followed_by":
                # waiting AT a (quantified) group's head: the fb waiter
                # is consumed by the group's ENTRY condition — the first
                # positive leaf's take (the same guard the group-loop
                # relaxed fillers use, r8)
                ec, ep, ei, en = _first_positive_cond(waiting.group._stages)
                primary = (
                    "consume",
                    _need_scan_cond(
                        f"ge{k}", ec, ep, ei,
                        "entry condition of group", waiting.name,
                    ),
                    head_kills + gk,
                )
            elif waiting.kind == "followed_by" and _has_cond(waiting):
                primary = (
                    "consume", _need_scan(k, "waiting stage"),
                    head_kills + gk,
                )
            elif waiting.kind == "followed_by_any":
                # true ignore — never consumed; a loop's until stop
                # still kills the waiting head (r8 dual-dialect)
                primary = ("persist", None, head_kills + gk)
            else:
                # next-contiguity (no ignore), or an unconditioned
                # followed_by (NOT(true) never fires): the adjacent /
                # any event takes or kills the waiter
                primary = ("any", None, ())
            gtuple = ((gkey, k),) if gkey is not None else ()
            if (
                waiting.quant is not None
                and waiting.quant[2] is True
                and _optable(waiting)
                and k < n - 1
                and not (
                    waiting.quant[1] is None
                    and (waiting.negated_gap is not None or waiting.fold_not)
                )
            ):
                # a ZERO-ABLE greedy loop guards its successor for the
                # zero-take copies too: bounded times-loops guard the
                # ORIGINAL unconditionally (createTimesState applies
                # updateWithGreedyCondition before building the chain),
                # and a NOT-free unbounded optional loop has only ONE
                # sink state — copyWithoutTransitiveNots returns its
                # argument, so createLooping guards the state the
                # zero-take PROCEED lands on (round-13 correction,
                # pinned by GreedyITCase testGreedyZeroOrMore). The
                # exempt case is an unbounded optional loop PRECEDED BY
                # A NOT: only there does the copy split leave the
                # zero-take route unguarded.
                gtuple = (*gtuple, (_greedy_key(k), k + 1))
            copies = (
                # the waiter at k IS prev's guarded sink, so every copy
                # beyond it takes the spawn-blocking 'adj' form
                _copies_for(_chain(k + 1), greedy=gtuple)
                if _optable(waiting)
                else []
            )
            if (
                waiting.group is not None
                and waiting.kind == "followed_by"
            ):
                # optable head chain of a waiting GROUP (round 13):
                # the head waiter's deeper-chain copies share its gap
                # and kills
                copies = [
                    *_group_chain_copies(k, waiting, head_kills + gk),
                    *copies,
                ]
            # migrated copies share the waiter's last take, so a
            # preceding not_next's adjacency kill applies to them too
            carry = tuple(e for e in head_kills if e[0] == "adj")
            if carry and copies:
                copies = [
                    (kind, ii, (*kls, *carry), cg)
                    for kind, ii, kls, cg in copies
                ]
            plans.append((pre_stages, str(k), primary, copies, None))
        # -- branches parked INSIDE a loop (1 <= taken < max): survival
        # by the INNER ignore condition (NFACompiler.java:862), plus
        # migrated copies at the successors once the loop met its
        # minimum (below it the inner states have no PROCEED edge) ------
        for p, s in enumerate(stages):
            if s.group is not None:
                continue  # quantified groups: dedicated builder below
            if s.quant is None or (s.quant[1] is not None and s.quant[1] < 2):
                continue
            mx = None if s.quant[1] is None else s.quant[1] - 1
            mid = dataclasses.replace(s, quant=(1, mx, None), opt=False)
            mid_kills = _kills_for(p, False)  # inner: until stop only
            if s.loop_mode == "strict":  # consecutive(): dies on any event
                primary = ("any", None, ())
            elif s.loop_mode == "relaxed":  # NOT(take) ignore guard
                primary = (
                    ("consume", _need_scan(p, "loop stage"), mid_kills)
                    if _has_cond(s)
                    else ("any", None, ())
                )
            else:  # allow_combinations(): true ignore — persists
                primary = ("persist", None, mid_kills)
            # greedy loop (non-terminal): migrated copies park at the
            # guarded PROCEED sink (p+1: the 'gap' kill on the loop's
            # own take condition — they spawn only at non-take events
            # and die at the next take-able one) or, through an optional
            # sink, beyond it (spawn blocked iff the first gap event is
            # take-able: 'adj')
            mgk = (
                _greedy_key(p)
                if s.quant[2] is True and p < len(stages) - 1
                else None
            )
            copies = _copies_for(
                _chain(p + 1),
                greedy=((mgk, p + 1),) if mgk is not None else (),
            )
            lo = s.quant[0]
            gate = ((s.name,), lo) if (copies and lo >= 2) else None
            # keep a NOT stage before the loop in the prefix: the
            # entry gap belongs to the mid-loop branch's own history
            plans.append(
                ([*raw[: raw_pos[p]], mid], f"L{p}", primary, copies, gate)
            )
        # -- branches parked inside/between iterations of a QUANTIFIED
        # GROUP (round 12). NFACompiler compiles a looping GroupPattern
        # into its inner states repeated, with the loop's relaxed
        # iteration link guarded by the group's ENTRY condition (the r8
        # group-loop filler rule = the NFA ignore edge). Parked shapes:
        # (1a) inside the FIRST iteration at inner position i — prefix =
        # outer prefix + the entry-linked inner chain up to i; (1b)
        # inside iteration j+1 >= 2 — prefix = outer prefix + the group
        # quantified (1..mx-1) + a relaxed-linked inner chain up to i;
        # (2) BETWEEN iterations (j >= 1 full, waiting for the next
        # entry event — relaxed forced-take, consume on the entry
        # condition) with migrated copies at the successors once the
        # loop minimum is met (the gate counts entry-leaf takes =
        # iterations). Supported shape: plain positive inner leaves
        # (no nested quantifiers/optionals/NOTs/untils), relaxed
        # iteration contiguity; everything else raises loudly. ---------
        for p, s in enumerate(stages):
            if s.group is None or (s.quant is None and not s.opt):
                continue
            # inner_raw keeps interior notFollowedBy STAGES in place —
            # prefix chains must carry them because compile_stages
            # resets and re-derives the negated_gap folds from the NOT
            # stages in the list (round 14, late: interior NOTs in
            # group loops); the positional machinery below walks the
            # POSITIVE leaves only
            inner_raw = _flatten(list(s.group._stages))
            inner = [
                st for st in inner_raw if st.kind not in _NOT_KINDS
            ]
            raw_of = [
                j for j, st in enumerate(inner_raw)
                if st.kind not in _NOT_KINDS
            ]

            def _raw_slice(upto):
                """inner_raw prefix covering the first ``upto`` POSITIVE
                leaves (interleaved NOT stages included); never ends on
                a NOT (slices end at a positive position)."""
                return [
                    dataclasses.replace(st)
                    for st in inner_raw[: raw_of[upto - 1] + 1]
                ]

            for ni, st in enumerate(inner_raw):
                if st.kind not in _NOT_KINDS:
                    continue
                nxt_pos = next(
                    (st2 for st2 in inner_raw[ni + 1:]
                     if st2.kind not in _NOT_KINDS),
                    None,
                )
                if (
                    st.kind != "not_followed_by"
                    or ni == 0
                    or nxt_pos is None
                    or nxt_pos.group is not None
                    or nxt_pos.quant is not None
                    or nxt_pos.opt
                ):
                    raise NotImplementedError(
                        f"timeout side output: quantified group "
                        f"{s.name!r} — inner NOT stage {st.name!r} is "
                        "supported only as an interior notFollowedBy "
                        "before a plain mandatory leaf (leading/"
                        "trailing NOTs and NOTs before loops/optionals "
                        "in a group loop are untraced)"
                    )
            for qi, st in enumerate(inner):
                # UNBOUNDED non-greedy inner loops are supported since
                # round 13 (the Lg mid-loop plans below): their minimum
                # (<=1) is met by any parked-inside assignment and they
                # never exit by take, so the single iteration counter
                # suffices. Bounded inner loops would need a second
                # runtime counter (inner-min gating + iteration gating
                # on one plan) — still guarded. ITERATIVE inner leaves
                # are fine (the scan registry threads the per-branch
                # predicate; the IterativeCondition context strips the
                # __gq iteration-rename).
                # round 14: BOUNDED inner loops (times(m,n)) and
                # min>=2 unbounded ones lift via the dual-counter
                # machinery — parked-inside plans cap the loop at
                # (1, hi-1), exit-by-max parks pin it at (hi, hi), and
                # a second plan-level count column gates PROCEED
                # copies on current-iteration takes >= the inner
                # minimum. UNBOUNDED greedy inner loops lift too
                # (round 14, late): compile's per-run span specs
                # filter the prefix enumerations (completed-iteration
                # runs with a dirty sink jump never existed,
                # _greedy_ok), and the loop's migrated sink copy
                # carries a 'gap' kill on the loop's own take
                # condition (updateWithGreedyCondition ANDs NOT(take)
                # onto every sink transition) — see _targets_from.
                # BOUNDED greedy loops stay guarded: _chain_forced
                # pins them at (hi, hi), an exact-times compile that
                # emits no span spec, so prefixes passing THROUGH the
                # guarded sink would over-admit dirty jumps.
                inner_loop_ok = (
                    st.quant is not None
                    and (st.quant[2] is not True or st.quant[1] is None)
                )
                # until() on a non-greedy inner loop lifts (round 14,
                # late): the stop edges live on the loop's own states,
                # replayed as a 'gap' kill on every wait AT / park
                # INSIDE it (_leaf_until_kill). Greedy + until keeps
                # the possessive compile on the match surface (the
                # twin-sink corner), which would under-enumerate the
                # prefixes — guarded.
                # interior negated_gap folds are admitted (round 14,
                # late) — the ni-walk above already restricted them to
                # notFollowedBy before a plain mandatory leaf, and
                # _leaf_not_kill guards the waits at that leaf
                if (
                    st.kind not in ("begin", "next", "followed_by",
                                    "followed_by_any")
                    or st.group is not None
                    or (st.quant is not None and not inner_loop_ok)
                    or (
                        (st.until_cond is not None
                         or st.until_pandas is not None)
                        and st.quant is not None
                        and st.quant[2] is True
                    )
                    or st.fold_not
                    or st.lead_not
                ):
                    raise NotImplementedError(
                        f"timeout side output: quantified group "
                        f"{s.name!r} — inner stage {st.name!r} is not a "
                        "supported leaf (greedy nested quantifiers, "
                        "greedy+until loops and NOTs inside a group "
                        "loop are untraced)"
                    )
            # OPTIONAL entry leaf (round 13): the iteration waiter parks
            # at the optable HEAD leaf's state, whose ignore edge is
            # NOT(head take) only — so the waiter's consume scan stays
            # the head condition, but the decision graph ALSO parks an
            # 'IGNORE after PROCEED' copy at every further optable-
            # chain state (and the first mandatory one): the partial
            # survives iff ANY of those computations does (one extra
            # 'fb' copy per chain state below). Iterations are counted
            # by the first MANDATORY leaf (each completed iteration
            # takes it exactly once; boundary copies only exist for
            # completable in-progress iterations, which have it too).
            ohead = 0
            while ohead < len(inner) and _optable(inner[ohead]):
                ohead += 1
            if ohead >= len(inner):
                raise NotImplementedError(
                    f"timeout side output: quantified group {s.name!r} "
                    "has no mandatory inner leaf (an all-optional group "
                    "loop admits empty iterations — untraced)"
                )
            rp = raw_pos[p]
            # until() on the group loop (round 12, late): NFACompiler
            # puts the stop edge on every looping state, so (a) a branch
            # parked at ANY position inside/between iterations dies on a
            # stop event in its gap — a 'gap' kill on all G-plan
            # primaries; (b) the PREFIX must not take a stop event nor
            # cross one in an in-iteration gap — the match surface
            # threads NOT(until) into every inner DEFINE and fb gap via
            # inner_negs, replicated here by wrapping the in-progress
            # iteration as an unquantified partial GROUP carrying the
            # until (compile threads inner_negs for groups regardless of
            # quantification). Copies PAST the group stay unguarded (the
            # successor state is outside the loop). The head waiter was
            # already guarded via _kills_for (r8 dual-dialect).
            has_gu = s.until_cond is not None or s.until_pandas is not None
            gu = (
                (("gap", _need_kill(
                    f"u{p}", s.until_cond, s.until_pandas,
                    f"until() condition of group {s.name!r}",
                )),)
                if has_gu
                else ()
            )

            def _leaf_not_kill(st2, tag: str) -> tuple:
                """'gap' kill for an interior notFollowedBy fold inside
                the group (round 14, late): the NOT gap guards the
                branch WAITING at its carrier leaf (addStopStates on
                the waiting state) and any copy parked there; a branch
                past the carrier discharged the NOT with its take."""
                if st2.negated_gap is None:
                    return ()
                return (("gap", _need_kill(
                    f"gin_{tag}_{st2.name}",
                    st2.negated_gap[0], st2.negated_gap[1],
                    f"notFollowedBy condition before group inner leaf "
                    f"{st2.name!r}",
                )),)

            def _inner_primary(st, key):
                iu = (
                    _leaf_until_kill(st, f"ip{p}")
                    + _leaf_not_kill(st, f"ip{p}")
                )
                if st.kind == "followed_by_any":
                    return ("persist", None, gu + iu)
                if st.kind == "followed_by" and _has_cond(st):
                    return (
                        "consume",
                        _need_scan_cond(
                            key, st.cond, st.pandas_cond, st.iter_cond,
                            "group inner stage", st.name,
                        ),
                        gu + iu,
                    )
                return ("any", None, ())

            # iteration contiguity (round 12, late): the loop's
            # consuming strategy sets the link of iteration j+1's first
            # take and the between-iterations waiting rule; completed
            # iterations enforce it inside the prefix via gprev's own
            # loop_mode
            iter_kind = _iter_link(s)
            mx = 1 if s.quant is None else s.quant[1]
            lo = (0 if s.opt else 1) if s.quant is None else s.quant[0]
            ec, ep, ei, en = _first_positive_cond(s.group._stages)
            # iteration count per assignment = takes of the first
            # PLAIN MANDATORY leaf across the renamed completed-
            # iterations group AND the current in-progress chain (==
            # entry-leaf takes when the entry is plain mandatory;
            # round 13 generalized for optable entries and unbounded
            # inner loops — a loop leaf takes many times per
            # iteration, so it cannot count)
            em = next(
                (
                    st.name
                    for st in inner
                    if not _optable(st) and st.quant is None
                ),
                None,
            )
            # em = None (every mandatory leaf is a loop) is fine as long
            # as NO iteration-count gate is ever materialized — lo <= 1
            # and mx unbounded need none (round 14, late): boundary
            # copies carry ("lt", mx) gates only for bounded mx, and
            # successor copies ("ge", lo) gates only for lo >= 2. The
            # gate constructors below raise if a gate is actually
            # needed without a countable leaf.
            cnt_syms = (em, em + "__gq") if em is not None else None
            if em is None:
                overlap_dedup = True

            def _need_cnt():
                raise NotImplementedError(
                    f"timeout side output: quantified group {s.name!r} "
                    "needs an iteration-count gate (bounded repetitions "
                    "or minimum >= 2) but has no plain mandatory inner "
                    "leaf to count iterations by (every mandatory leaf "
                    "is a loop — untraced)"
                )
            # extra entry-wait computations for an optable head chain
            # (round 13): one 'fb' copy per chain state past the head —
            # they share the waiter's taken rows and survive its
            # consumption by head-take-able events
            def _ochain_copies(kls, bg):
                out2 = []
                for qi2 in range(1, ohead + 1):
                    st2 = inner[qi2]
                    out2.append((
                        "fb",
                        _need_scan_cond(
                            f"gi{p}_{qi2}", st2.cond, st2.pandas_cond,
                            st2.iter_cond, "group inner stage", st2.name,
                        ),
                        kls
                        + _leaf_until_kill(st2, f"oc{p}")
                        + _leaf_not_kill(st2, f"oc{p}"),
                        bg,
                    ))
                return out2
            succ_gate = ("ge", lo) if lo >= 2 else None
            succ_copies = [
                (kk, ii, kls, succ_gate)
                for kk, ii, kls, _cg in _copies_for(_chain(p + 1))
            ]

            def _chain_forced(upto):
                """inner[:upto] with the LAST stage forced present —
                assignments where it is absent are exactly the earlier
                waiting positions' copies (no cross-plan duplicates).
                A zero-able loop leaf forces by bumping its minimum to
                one (round 13). A BOUNDED loop leaf pins at (hi, hi)
                (round 14): the NFA only moves PAST a times chain by
                taking its maximum — branches with fewer takes are
                still parked inside it (the Gq plans) and reach the
                successor only as PROCEED copies, so a j < hi
                assignment here would be a cross-plan duplicate."""
                ch = _raw_slice(upto)
                last = ch[-1]
                q2 = last.quant
                if q2 is not None and q2[1] is not None:
                    q2 = (q2[1], q2[1], q2[2])
                elif q2 is not None and q2[0] == 0:
                    q2 = (1, q2[1], q2[2])
                ch[-1] = dataclasses.replace(last, opt=False, quant=q2)
                return ch

            def _inner_copies(i):
                """Migrated copies of a branch waiting at inner
                position i (round 12, late — OPTIONAL inner leaves):
                inner targets through the optable tail; iff the tail
                reaches the iteration end, the iteration is
                COMPLETABLE and the branch also proceeds to the
                boundary — the next-iteration entry wait (absent under
                consecutive() links; persisting under fbAny links)
                valid while iterations < mx, and the outer successors
                valid once iterations >= lo."""
                if not _optable(inner[i]):
                    return []
                return _targets_from(i)

            def _targets_from(i):
                """The PROCEED-reachable copy targets past inner
                position i — shared by optable waiting positions and
                (round 13) branches parked INSIDE an unbounded inner
                loop, whose minimum (<=1) is met by construction. For
                a GREEDY inner loop (round 14, late) the sink copy at
                i+1 additionally dies on any loop-take-able gap event:
                updateWithGreedyCondition ANDs NOT(take) onto every
                transition of the PROCEED sink, ignore included."""
                st0 = inner[i]
                gk = gu
                if st0.quant is not None and st0.quant[2] is True:
                    gk = gu + (("gap", _need_kill(
                        f"gg{p}_{i}", st0.cond, st0.pandas_cond,
                        f"greedy take condition of group inner loop "
                        f"{st0.name!r}",
                    )),)
                out, j, reach_end = [], i + 1, False
                while True:
                    if j >= len(inner):
                        reach_end = True
                        break
                    st2 = inner[j]
                    kls_j = (
                        (gk if j == i + 1 else gu)
                        + _leaf_until_kill(st2, f"tf{p}")
                        + _leaf_not_kill(st2, f"tf{p}")
                    )
                    if st2.kind == "followed_by_any":
                        out.append(("fba", None, kls_j, None))
                    elif st2.kind != "next" and _has_cond(st2):
                        out.append((
                            "fb",
                            _need_scan_cond(
                                f"gi{p}_{j}", st2.cond, st2.pandas_cond,
                                st2.iter_cond, "group inner stage",
                                st2.name,
                            ),
                            kls_j, None,
                        ))
                    if not _optable(st2):
                        break
                    j += 1
                if not reach_end:
                    return out
                if (mx is None or mx >= 2) and iter_kind != "next":
                    bg = ("lt", mx) if mx is not None else None
                    eu = gu + _leaf_until_kill(inner[0], f"te{p}")
                    if iter_kind == "followed_by_any":
                        out.append(("fba", None, eu, bg))
                    else:
                        out.append((
                            "fb",
                            _need_scan_cond(
                                f"ge{p}", ec, ep, ei,
                                "entry condition of group", s.name,
                            ),
                            eu, bg,
                        ))
                        out.extend(_ochain_copies(gu, bg))
                out.extend(succ_copies)
                return out

            def _g_gate(cps):
                if not any(cg is not None for *_x, cg in cps):
                    return None
                if cnt_syms is None:
                    _need_cnt()
                return (cnt_syms, None)

            def _g_gate_q(cps, st2):
                """Plan gate for a branch parked INSIDE an inner loop
                (round 14, dual counters): besides the iteration count
                (__cnt over the mandatory leaf, driving the per-copy
                ge/lt gates), PROCEED copies exist only once the
                CURRENT iteration's loop takes reach the inner minimum
                — a second count column over the un-renamed loop
                symbol (completed iterations' takes carry the __gq
                rename, so they never pollute it). j >= 1 holds by
                construction, so the second counter is materialized
                only for inner minima >= 2."""
                lo2 = st2.quant[0] if st2.quant is not None else 1
                need1 = any(cg is not None for *_x, cg in cps)
                if lo2 < 2:
                    return _g_gate(cps) if need1 else None
                if cnt_syms is None:
                    _need_cnt()
                return (cnt_syms, None, (st2.name,), lo2)

            def _loop_mid(qi):
                """Mid-loop chain for an inner loop leaf at qi: the
                preceding leaves plus the loop normalized to minimum
                one — any parked-inside assignment has >= 1 take. An
                unbounded loop never exits by take (round 13); a
                BOUNDED one is capped at hi-1 here (round 14) — the
                hi-th take forces the branch out of the times chain,
                which is the pinned exit-by-max position wait, not a
                parked-inside shape."""
                ch = _raw_slice(qi + 1)
                q2 = ch[-1].quant
                hi2 = None if q2[1] is None else q2[1] - 1
                ch[-1] = dataclasses.replace(
                    ch[-1], quant=(1, hi2, None), opt=False
                )
                return ch

            def _loop_primary(st2, key):
                iu = _leaf_until_kill(st2, f"lp{p}")
                if st2.loop_mode == "strict":
                    return ("any", None, ())
                if st2.loop_mode == "combinations":
                    return ("persist", None, gu + iu)
                return (
                    "consume",
                    _need_scan_cond(
                        key, st2.cond, st2.pandas_cond, st2.iter_cond,
                        "group inner loop", st2.name,
                    ),
                    gu + iu,
                )

            # (1a) first iteration in progress
            for i in range(1, len(inner)):
                q2 = inner[i - 1].quant
                if q2 is not None and q2[1] is None:
                    # an unbounded inner loop never exits by take: the
                    # wait at position i is a COPY of its mid-loop
                    # branches (plan Gq below), not a separate park.
                    # A BOUNDED loop does exit — at exactly hi takes
                    # (_chain_forced pins it), round 14
                    continue
                pre = [*raw[:rp], *_wrap_iter(s, _chain_forced(i), s.kind)]
                cps = _inner_copies(i)
                plans.append((
                    pre, f"G{p}e{i}",
                    _inner_primary(inner[i], f"gi{p}_{i}"), cps,
                    _g_gate(cps),
                ))
            # (1a-q) parked INSIDE an inner loop, iteration 1
            for qi, st2 in enumerate(inner):
                if st2.quant is None or (
                    st2.quant[1] is not None and st2.quant[1] <= 1
                ):
                    continue  # (m,1)/(0,1) never park inside a chain
                pre = [*raw[:rp], *_wrap_iter(s, _loop_mid(qi), s.kind)]
                cps = _targets_from(qi)
                plans.append((
                    pre, f"G{p}eq{qi}",
                    _loop_primary(st2, f"gi{p}_{qi}"), cps,
                    _g_gate_q(cps, st2),
                ))

            if mx is None or mx >= 2:
                gprev = dataclasses.replace(
                    s,
                    quant=(1, None if mx is None else mx - 1, None),
                    opt=False,
                )
                gprev_r = dataclasses.replace(
                    gprev, group=_rename_group(s.group)
                )
                # (1b) iteration j+1 >= 2 in progress
                for i in range(1, len(inner)):
                    q2 = inner[i - 1].quant
                    if q2 is not None and q2[1] is None:
                        continue
                    pre = [*raw[:rp], gprev_r,
                           *_wrap_iter(s, _chain_forced(i), iter_kind)]
                    cps = _inner_copies(i)
                    plans.append((
                        pre, f"G{p}m{i}",
                        _inner_primary(inner[i], f"gi{p}_{i}"), cps,
                        _g_gate(cps),
                    ))
                # (1b-q) inside an inner loop, iteration >= 2
                for qi, st2 in enumerate(inner):
                    if st2.quant is None or (
                        st2.quant[1] is not None and st2.quant[1] <= 1
                    ):
                        continue
                    pre = [*raw[:rp], gprev_r,
                           *_wrap_iter(s, _loop_mid(qi), iter_kind)]
                    cps = _targets_from(qi)
                    plans.append((
                        pre, f"G{p}mq{qi}",
                        _loop_primary(st2, f"gi{p}_{qi}"), cps,
                        _g_gate_q(cps, st2),
                    ))
            # (2) between iterations: waiting for the next entry
            # event — a forced take under relaxed contiguity, death
            # on any event under consecutive(), a persisting true
            # ignore under allowCombinations(); PROCEED copies once
            # the minimum is met. An UNBOUNDED tail-loop group (round
            # 13) has no distinct between-state: the iteration's loop
            # branch IS the waiter (it can still extend), so the Gq
            # plans' boundary/successor copies subsume these — and
            # their mandatory-leaf count gates close the books at mx.
            # A BOUNDED tail loop (round 14) DOES exit — at exactly hi
            # takes — so its between-parks exist but must be pinned to
            # the exit-by-max shape (the wA/wB route below; j < hi
            # waiters reach the boundary only as the Gq plans' copies).
            tail = inner[-1]
            tail_bounded = (
                tail.quant is not None and tail.quant[1] is not None
            )
            if (mx is None or mx >= 2) and (
                tail.quant is None or tail_bounded
            ):
                weu = gu + _leaf_until_kill(inner[0], f"we{p}")
                if iter_kind == "next":
                    primary = ("any", None, ())
                elif iter_kind == "followed_by_any":
                    primary = ("persist", None, weu)
                else:
                    primary = (
                        "consume",
                        _need_scan_cond(
                            f"ge{p}", ec, ep, ei,
                            "entry condition of group", s.name,
                        ),
                        weu,
                    )
                # optable head chain (round 13): the between-waiter
                # survives head-consuming events through its copies at
                # the deeper chain states, valid while another
                # iteration may start
                w_extra = (
                    _ochain_copies(
                        gu, ("lt", mx) if mx is not None else None
                    )
                    if iter_kind == "followed_by" and ohead > 0
                    else []
                )
                w_copies = [*w_extra, *succ_copies]
                if not _optable(tail) and not tail_bounded:
                    # the last take of a completed iteration can only
                    # be the final leaf: one plan over gprev
                    plans.append((
                        [*raw[:rp], gprev], f"G{p}w", primary,
                        w_copies, _g_gate(w_copies),
                    ))
                else:
                    # optable final leaf: a tail-absent completion's
                    # between-wait is already some waiting position's
                    # BOUNDARY copy — restrict these plans to last
                    # take = the forced final leaf, split by whether
                    # completed iterations precede (the entry link
                    # kind differs). A BOUNDED tail loop rides the
                    # same route with the leaf pinned at (hi, hi):
                    # only exit-by-max branches park between (round 14)
                    full = _chain_forced(len(inner))
                    plans.append((
                        [*raw[:rp], *_wrap_iter(s, full, s.kind)],
                        f"G{p}wA", primary, w_copies,
                        _g_gate(w_copies),
                    ))
                    if mx is None or mx >= 3:
                        gprev2 = dataclasses.replace(
                            s,
                            quant=(1, None if mx is None else mx - 2,
                                   None),
                            opt=False,
                        )
                        gprev2_r = dataclasses.replace(
                            gprev2, group=_rename_group(s.group)
                        )
                        plans.append((
                            [*raw[:rp], gprev2_r,
                             *_wrap_iter(s, full, iter_kind)],
                            f"G{p}wB", primary, w_copies,
                            _g_gate(w_copies),
                        ))

        # interior greedy stages (round 12, late): a prefix that passes
        # THROUGH a greedy stage must enumerate EVERY expansion (the
        # match surface's possessive commit keeps only the longest per
        # start) and keep exactly the expansions whose post-greedy span
        # is clean — updateWithGreedyCondition ANDs NOT(take) onto every
        # transition of the PROCEED sink, so the reference branch died
        # if any greedy-take-able event lies in (last greedy take, next
        # taken row], the next take itself included. De-greedy the
        # prefix stage and record a per-assignment span kill.
        def _despan(pre_stages):
            spans = []
            pos = [
                i for i, st in enumerate(pre_stages)
                if st.kind not in _NOT_KINDS
            ]
            out = list(pre_stages)
            for j, i in enumerate(pos[:-1]):
                st = out[i]
                if (
                    st.group is None
                    and st.quant is not None
                    and st.quant[2] is True
                ):
                    out[i] = dataclasses.replace(
                        st, quant=(st.quant[0], st.quant[1], None)
                    )
                    post = [
                        ps.name
                        for ii in pos[j + 1:]
                        for ps in _positive_leaf_stages([out[ii]])
                    ]
                    # span anchor: the last row BEFORE the post-greedy
                    # take. 'anchor' mode = max non-post row (covers
                    # ZERO-take assignments too — bounded times-loops
                    # guard the ORIGINAL successor unconditionally, and
                    # a NOT-free unbounded optional loop has only ONE
                    # sink state, guarded: copyWithoutTransitiveNots
                    # returns its argument — round-13 correction,
                    # GreedyITCase testGreedyZeroOrMore); 'g' mode
                    # anchors on the last greedy row only (zero-take
                    # exempt: an unbounded optional loop PRECEDED BY A
                    # NOT proceeds its zero-take route to the unguarded
                    # original of the copy split)
                    zb_exempt = (
                        (st.opt or st.quant[0] == 0)
                        and st.quant[1] is None
                        and (st.negated_gap is not None or st.fold_not)
                    )
                    spans.append((
                        "g" if zb_exempt else "anchor",
                        st.name, post,
                        _need_kill(
                            f"gsp_{st.name}", st.cond, st.pandas_cond,
                            f"greedy take condition of {st.name!r}",
                        ),
                    ))
            return out, spans

        plans = [
            (*_despan(pre_stages), tag, primary, copies, gate)
            for pre_stages, tag, primary, copies, gate in plans
        ]
        # -> entries are now (pre_stages, spans, tag, primary, copies, gate)

        if streaming:
            # horizon-close emission inside a stateful operator: each
            # parked shape becomes a compiled prefix pattern + pandas
            # survival predicates; one keyed shuffle, state bounded by
            # the within horizon (streaming_timed_out_partials)
            from reshape_on_flink_spark.operators.cep import (
                streaming_timed_out_partials,
            )

            lookahead = W.partitionBy(*keys).orderBy(*order)
            op_plans = []
            for pre_stages, spans, tag, primary, copies, gate in plans:
                pre = Pattern()
                pre._stages = pre_stages
                pre._within = within
                pat_s, _def, _usr, _win = pre.compile(
                    emit="all", lookahead_window=lookahead
                )
                fluid_p = (
                    list(pre._fluid_links or [])
                    + _fluid_specs(pre_stages)
                ) or None
                spans_p = []
                for mode, gname, post, kk in spans:
                    if kill_specs[kk][1] is None:
                        raise ValueError(
                            "streaming timeout side output needs a "
                            "pandas form of the greedy take condition "
                            f"of {gname!r}"
                        )
                    spans_p.append(
                        (mode, gname, frozenset(post), kill_specs[kk][1])
                    )
                op_plans.append(
                    dict(
                        pat=pat_s,
                        spans=spans_p,
                        fluid=fluid_p,
                        # per-run sink-guard specs for greedy loops
                        # inside the prefix's wrapped/renamed groups
                        # (round 14, late) — candidate-level filter,
                        # same contract as the batch route's
                        # pre._greedy_spans threading
                        greedy=list(pre._greedy_spans or []) or None,
                        define=_build_pandas_define(pre),
                        # iterative stage conditions of the prefix
                        # (round 13): threaded into the operator's
                        # enumerator so assignments invalid under an
                        # IterativeCondition are never parked
                        iter_define=pre._iter_define or None,
                        user_syms=[
                            st.name
                            for st in _positive_leaf_stages(pre_stages)
                        ],
                        tag=tag,
                        primary=(
                            primary[0],
                            scan_specs[primary[1]][1]
                            if primary[0] == "consume"
                            else None,
                            [
                                (fl, kill_specs[kk][1])
                                for fl, kk in primary[2]
                            ],
                            # iterative part of the consume scan (round
                            # 13): re-evaluated per branch in the
                            # operator's candidate walk
                            scan_specs[primary[1]][2]
                            if primary[0] == "consume"
                            else None,
                        ),
                        copies=[
                            (
                                kk,
                                None if ii is None else scan_specs[ii][1],
                                [(fl, kill_specs[x][1]) for fl, x in kls],
                                cg,
                                None if ii is None else scan_specs[ii][2],
                            )
                            for kk, ii, kls, cg in copies
                        ],
                        gate=gate,
                    )
                )
            skip_spec = None
            if skip_mode != "no_skip":
                # the FULL pattern, compiled emit='first' — the same
                # first-completed sequential matcher the batch match
                # output uses; the operator runs it incrementally from
                # a keyed cursor and replays the emission loop
                full_pat, _fdef, full_usr, _fwin = pattern.compile(
                    emit="first", lookahead_window=lookahead
                )
                full_fluid = full_greedy = None
                if pattern._fluid_links or pattern._greedy_spans:
                    # fluid full pattern / greedy sink guards: the
                    # cursor enumerates with the candidate filters, so
                    # it needs the enumerable gap grammar
                    full_pat, _fdef, full_usr, _fwin = pattern.compile(
                        emit="all", lookahead_window=lookahead
                    )
                    full_fluid = list(pattern._fluid_links) or None
                    full_greedy = list(pattern._greedy_spans) or None
                tn_p = None
                if terminal_tn:
                    # pendings complete AT horizon close; the cursor
                    # needs the N predicate to kill them mid-gap
                    tnc = pattern._terminal_not
                    if tnc is None or tnc[1] is None:
                        raise ValueError(
                            "streaming timeout side output needs a "
                            "pandas form of the terminal notFollowedBy "
                            "condition"
                        )
                    tn_p = tnc[1]
                skip_spec = dict(
                    mode=skip_mode,
                    sym=skip_sym,
                    pat=full_pat,
                    define=_build_pandas_define(pattern),
                    user_syms=list(full_usr),
                    tn=tn_p,
                    fluid=full_fluid,
                    greedy=full_greedy,
                    # round 14: the incremental full-pattern cursor
                    # threads IterativeCondition contexts (the last
                    # streaming-skip guard)
                    iter_define=pattern._iter_define or None,
                )
            res = streaming_timed_out_partials(
                self._df, keys, order, list(self._df.columns),
                op_plans, delta, is_time, skip=skip_spec,
            )
            return res.withColumn(
                "matched_symbol",
                F.regexp_replace(F.col("matched_symbol"), "__gq$", ""),
            )

        it_scan_keys = sorted(
            k for k in scan_specs if scan_specs[k][2] is not None
        )
        # decorations batched into ONE select (not one withColumn each —
        # every withColumn rebuilds + re-analyzes the whole plan; the
        # timeout family spent 1.4-3.8 s/query of driver wall in plan
        # construction, guide §7.3). No decoration references another,
        # so one projection is equivalent.
        deco_cols = []
        for key in sorted(scan_specs):
            cond, _pc, itc = scan_specs[key]
            if itc is not None:
                # iterative scan (round 13): the shared window column
                # cannot decide branch-dependent take-ability — compute
                # the STATIC flag only; the per-assignment cogroup pass
                # in _timeouts evaluates the iterative part against
                # each branch's own partial match
                deco_cols.append(
                    (
                        F.lit(True)
                        if cond is None  # iterative-only: static part true
                        else F.coalesce(cond, F.lit(False))
                    ).alias(f"__to_its_{key}")
                )
                continue
            src = (
                F.when(cond, F.col("__to_tick"))
                if cond is not None
                else F.col("__to_tick")
            )
            deco_cols.append(
                F.min(src).over(wfollow).alias(f"__to_nt_{key}")
            )
        for kk in sorted(kill_specs):
            # struct min = FIRST kill event in rid order: the rid makes
            # the 'adj' (not_next) adjacency test tie-proof — with
            # duplicate order values a same-tick but non-adjacent kill
            # event must not be mistaken for the directly-adjacent one
            deco_cols.append(
                F.min(
                    F.when(
                        kill_specs[kk][0],
                        F.struct("__to_rid", "__to_tick"),
                    )
                )
                .over(wfollow)
                .alias(f"__to_kl_{kk}")
            )
        if deco_cols:
            base = base.select("*", *deco_cols)
        last_cols = (
            ["__to_next_any"]
            + [
                f"__to_nt_{key}"
                for key in sorted(scan_specs)
                if scan_specs[key][2] is None
            ]
            + [f"__to_kl_{kk}" for kk in sorted(kill_specs)]
        )
        # Measured NON-WIN (round 13, interleaved on/off A/B at sf0.1,
        # re-confirming the round-11 persist probe): localCheckpoint()ing
        # the decorated base before the multi-pass fan-out LOST +0.7 to
        # +3.4 s on every timeout query. The plans do re-derive base per
        # pass (the skip plan re-runs the events scan 15x), but with the
        # keyed Python stages pinned to full parallelism the recomputes
        # are cheap codegen'd JVM work, while a checkpoint serializes one
        # materialization and downgrades every downstream scan to a
        # non-codegen ExistingRDD without pruning (guide §1: measure; §5:
        # cache only when recompute beats the pressure — here it doesn't).

        def _iter_hits(rows, it_keys):
            """Per-assignment first ITERATIVE take tick (round 13): a
            cogrouped pandas pass joining each enumerated assignment
            with its key's events — for every statically-viable gap
            event, the scan's IterativeCondition re-runs with the
            branch's own taken rows as the Context (the same
            ``_IterCtx`` contract the match surface uses). Returns one
            row per (keys, match_id) with a nullable first-hit tick
            per scan key."""
            from reshape_on_flink_spark.operators.cep import _IterCtx

            it_fns = {k: scan_specs[k][2] for k in it_keys}
            key_fields = [
                f for f in base.schema.fields if f.name in keys
            ]
            schema_out = ", ".join(
                [f"`{f.name}` {f.dataType.simpleString()}" for f in key_fields]
                + ["match_id bigint"]
                + [f"`__itk_{k}` double" for k in it_keys]
            )
            asg = rows.select(*keys, "match_id", "__to_rid", "matched_symbol")
            flag_cols = [f"__to_its_{k}" for k in it_keys]
            ev = base.select(
                *user_cols,
                "__to_rid",
                "__to_tick",
                *flag_cols,
            )
            ocol_name = ocol
            dlt = delta

            def fn(key_vals, asg_pdf, ev_pdf):
                import numpy as np
                import pandas as pd

                if not len(asg_pdf):
                    return pd.DataFrame(
                        columns=[f.name for f in key_fields]
                        + ["match_id"]
                        + [f"__itk_{k}" for k in it_keys]
                    )
                ev2 = ev_pdf.sort_values("__to_rid").reset_index(drop=True)
                ticks = ev2["__to_tick"].to_numpy()
                flags = {
                    k: ev2[f"__to_its_{k}"].to_numpy().astype(bool)
                    for k in it_keys
                }
                recs = ev2.to_dict("records")
                out = []
                for mid, grp in asg_pdf.groupby("match_id", sort=False):
                    grp = grp.sort_values("__to_rid")
                    rids = grp["__to_rid"].to_numpy()
                    names = [
                        s[:-4] if s.endswith("__gq") else s
                        for s in grp["matched_symbol"]
                    ]
                    sym_idx: dict = {}
                    taken = []
                    for rid, nm in zip(rids, names):
                        si = sym_idx.setdefault(nm, len(sym_idx))
                        taken.append((int(rid) - 1, si))
                    symbols = list(sym_idx)
                    ctx = _IterCtx(recs, symbols, ocol_name)
                    ctx.taken = tuple(taken)
                    first_pos = int(rids[0]) - 1
                    last_pos = int(rids[-1]) - 1
                    horizon = float(ticks[first_pos]) + dlt
                    lim = int(np.searchsorted(ticks, horizon, side="left"))
                    hits = []
                    for k in it_keys:
                        hit = None
                        fnk = it_fns[k]
                        for p in range(last_pos + 1, lim):
                            if not flags[k][p]:
                                continue
                            ctx.pos = p
                            if fnk(recs[p], ctx):
                                hit = float(ticks[p])
                                break
                        hits.append(hit)
                    out.append([*key_vals, int(mid), *hits])
                return pd.DataFrame(
                    out,
                    columns=[f.name for f in key_fields]
                    + ["match_id"]
                    + [f"__itk_{k}" for k in it_keys],
                )

            from reshape_on_flink_spark.session import (
                PYTHON_STAGE_TASK_BYTES,
                python_stage_width,
            )

            # ONE width for both cogroup inputs (the wider of the two
            # sides' widths): mismatched capped widths made
            # EnsureRequirements re-shuffle one side — an extra
            # exchange in the r14 skip plan
            n_cg = max(
                python_stage_width(side, task_bytes=PYTHON_STAGE_TASK_BYTES)
                for side in (ev, asg)
            )
            kcols = [F.col(c) for c in keys]
            return (
                asg.repartition(n_cg, *kcols)
                .groupBy(*keys)
                .cogroup(ev.repartition(n_cg, *kcols).groupBy(*keys))
                .applyInPandas(fn, schema=schema_out)
            )

        def _timeouts(pre_stages, spans, tag: str, primary, copies, gate):
            """Enumerate the parked branches of one prefix shape; keep
            an assignment iff its witness row exists AND any of its
            computations (the primary parked branch or a migrated copy)
            survives to the horizon. Computations sharing an event set
            collapse to one emitted partial (NFAITCase compares sets).
            Returns (branch rows, surviving-branch summaries); the
            skip-strategy prune filter and final join happen outside."""
            rows = multi_rows[tag]
            # Round 14 (guide §7.3, measured): this builder emitted
            # ~7k py4j round trips per query — every Column operator is
            # a socket round trip, and the build was 1.4-1.9 s of the
            # 3-4 s group-family queries. The aggregation and survival
            # predicates are now composed as SQL STRINGS and parsed
            # JVM-side in one expr() each — identical Catalyst trees
            # (same functions, same three-valued-logic chains; names
            # are quoted by _sql_ident/_sql_str, counts are int
            # literals), pinned by the oracle hash equality of all 17
            # timeout queries.
            aggs = [
                # first/last row picked by the tie-proof per-partition rid
                "min(struct(__to_rid, __to_tick)).`__to_tick` AS `__first`",
                "min(__to_rid) AS `__srid`",
                "max(__to_rid) AS `__lrid`",
                "any_value(__to_pmax) AS `__pmax`",
            ]
            for c in last_cols:
                aggs.append(
                    f"max(struct(__to_rid, {_sql_ident(c)}))."
                    f"{_sql_ident(c)} AS {_sql_ident('__l' + c)}"
                )
            if gate is not None:
                aggs.append(
                    "sum(CAST(matched_symbol IN "
                    f"{_sql_in(gate[0])} AS INT)) AS `__cnt`"
                )
                if len(gate) > 3 and gate[2] is not None:
                    # second counter (round 14, bounded inner loops):
                    # current-iteration takes of the parked loop leaf
                    aggs.append(
                        "sum(CAST(matched_symbol IN "
                        f"{_sql_in(gate[2])} AS INT)) AS `__cnt2`"
                    )
            for j2, (mode, gname, post, kkey) in enumerate(spans):
                # the kill-scan struct AT the span anchor row (the last
                # greedy row, or the last pre-post row in 'anchor'
                # mode) = the first greedy-take-able event after it,
                # and the rid of the first post-greedy taken row
                anchor = (
                    "matched_symbol = " + _sql_str(gname)
                    if mode == "g"
                    else f"NOT (matched_symbol IN {_sql_in(post)})"
                )
                aggs.append(
                    f"max(CASE WHEN {anchor} THEN struct(__to_rid, "
                    f"{_sql_ident('__to_kl_' + kkey)} AS kl) END) "
                    f"AS `__gsp{j2}`"
                )
                aggs.append(
                    f"min(CASE WHEN matched_symbol IN {_sql_in(post)} "
                    f"THEN __to_rid END) AS `__pn{j2}`"
                )
            g = (
                rows.groupBy(*keys, "match_id")
                .agg(*[F.expr(a) for a in aggs])
                .withColumn("__horizon", F.col("__first") + F.lit(delta))
            )
            plan_it = sorted({
                k
                for k in (
                    [primary[1]] if primary[0] == "consume" else []
                ) + [ii for _kd, ii, _kl, _cg in copies if ii is not None]
                if scan_specs[k][2] is not None
            })
            if plan_it:
                g = g.join(
                    _iter_hits(rows, plan_it), [*keys, "match_id"], "left"
                )

            def _scan_col(key) -> str:
                """First consuming-take tick for a scan key: the shared
                window column for static scans, the per-assignment
                cogroup column for ITERATIVE ones (round 13)."""
                if scan_specs[key][2] is not None:
                    return _sql_ident(f"__itk_{key}")
                return _sql_ident(f"__l__to_nt_{key}")
            for j2 in range(len(spans)):
                # the reference branch died at the sink before the next
                # take: a greedy-take-able event at rid <= the first
                # post-greedy taken row (the take itself carries
                # NOT(greedy take)) invalidates the whole expansion
                g = g.where(F.expr(
                    f"NOT coalesce(`__gsp{j2}`.kl IS NOT NULL AND "
                    f"`__gsp{j2}`.kl.`__to_rid` <= `__pn{j2}`, false)"
                ))

            def _clear(col: str) -> str:  # no matching event after the
                # last take, below the horizon
                return f"({col} IS NULL OR {col} >= __horizon)"

            def _kills_clear(kills) -> str:
                cs = []
                for flavor, kk in kills:
                    col = _sql_ident(f"__l__to_kl_{kk}")
                    kt = f"{col}.`__to_tick`"
                    if flavor == "gap":
                        cs.append(f"({col} IS NULL OR {kt} >= __horizon)")
                    else:
                        # 'adj': dies iff the FIRST gap event matches —
                        # decided by rid adjacency (first-following rid
                        # is always last-take rid + 1), tie-proof under
                        # duplicate order values
                        cs.append(
                            f"({col} IS NULL OR {col}.`__to_rid` != "
                            f"__lrid + 1 OR {kt} >= __horizon)"
                        )
                return "(" + " AND ".join(cs) + ")" if cs else "true"

            def _kill_deaths(kills, guard_col: str | None) -> list[str]:
                """Per kill spec: the tick where this branch leaves the
                reference's partialMatches via the STOP edge (NULL if
                it doesn't) — fires only below the horizon and, for a
                consumable branch, only if no take-able event precedes
                the kill (ties kill: NOT(until) guards the take)."""
                out = []
                for flavor, kk in kills:
                    col = _sql_ident(f"__l__to_kl_{kk}")
                    kt = f"{col}.`__to_tick`"
                    fired = f"{col} IS NOT NULL AND {kt} < __horizon"
                    if flavor == "adj":
                        fired += f" AND {col}.`__to_rid` = __lrid + 1"
                    if guard_col is not None:
                        fired += (
                            f" AND ({guard_col} IS NULL OR "
                            f"{kt} <= {guard_col})"
                        )
                    out.append(f"CASE WHEN {fired} THEN {kt} END")
                return out

            def _least(cands: list[str]) -> str:
                if len(cands) == 1:
                    return cands[0]
                return "least(" + ", ".join(cands) + ")"

            death_cands = []  # one entry per computation (primary/copy)
            if primary[0] == "consume":
                alive = _clear(_scan_col(primary[1]))
            elif primary[0] == "any":
                alive = _clear(_sql_ident("__l__to_next_any"))
            else:
                alive = "true"
            alive = f"({alive} AND {_kills_clear(primary[2])})"
            if primary[2]:
                death_cands.append(_least(_kill_deaths(
                    primary[2],
                    _scan_col(primary[1])
                    if primary[0] == "consume"
                    else None,
                )))
            if copies:
                nxt = _sql_ident("__l__to_next_any")
                trigger = f"({nxt} IS NOT NULL AND {nxt} < __horizon)"
                cp = "false"
                gated = (
                    "true"
                    if gate is None or gate[1] is None
                    else f"(__cnt >= {int(gate[1])})"
                )
                if gate is not None and len(gate) > 3 and gate[2] is not None:
                    # dual-counter plan gate (round 14): PROCEED copies
                    # need the current iteration's loop takes >= the
                    # inner minimum too
                    gated = f"({gated} AND __cnt2 >= {int(gate[3])})"

                def _cgated(cond: str, cg) -> str:
                    # per-copy gate against the plan's count column:
                    # ("ge", n) / ("lt", n) — the iteration-count
                    # validity of boundary/successor copies
                    if cg is None:
                        return cond
                    op = ">=" if cg[0] == "ge" else "<"
                    return f"({cond} AND __cnt {op} {int(cg[1])})"

                for kind, i, kls, cg in copies:
                    term = (
                        trigger
                        if kind == "fba"
                        else f"({trigger} AND {_clear(_scan_col(i))})"
                    )
                    cp = (
                        f"({cp} OR "
                        + _cgated(f"({term} AND {_kills_clear(kls)})", cg)
                        + ")"
                    )
                    if kls:
                        death_cands.append(
                            "CASE WHEN "
                            + _cgated(f"({trigger} AND {gated})", cg)
                            + " THEN "
                            + _least(_kill_deaths(
                                kls,
                                None if kind == "fba" else _scan_col(i),
                            ))
                            + " END"
                        )
                if gate is not None and gate[1] is not None:
                    cp = f"({cp} AND __cnt >= {int(gate[1])})"
                if gate is not None and len(gate) > 3 and gate[2] is not None:
                    cp = f"({cp} AND __cnt2 >= {int(gate[3])})"
                alive = f"({alive} OR {cp})"
            # event-driven expiry: a partition row at/after the horizon
            surv = g.where(F.expr(f"__pmax >= __horizon AND {alive}"))
            # stop-edge deaths: branches killed mid-gap stay live in
            # the reference's partialMatches until their kill event, so
            # they gate (but never join) the skip-emission replay
            dead = None
            if death_cands:
                death = (
                    death_cands[0]
                    if len(death_cands) == 1
                    else "greatest(" + ", ".join(death_cands) + ")"
                )
                dead = (
                    g.withColumn("__gt", F.expr(death))
                    .where(F.col("__gt").isNotNull())
                    .select(*keys, "__srid", "__gt")
                )
            return rows, surv, dead

        # ONE consolidated match pass for any plan count: every prefix
        # plan, plus the skip route's full-pattern sequential plan, runs
        # in one keyed shuffle via match_recognize_multi. A pass per plan
        # re-pays the repartition + sort + pandas scan of the SAME base
        # relation (BASELINE.md round 13: q_cep_timeout_group_opt ran 5
        # passes, ~0.72 est. scan share). The shared frame is persisted
        # because each plan's aggregation + final join reference it
        # again (block-level cache locks make concurrent union arms
        # compute it once).
        lookahead = W.partitionBy(*keys).orderBy(*order)
        specs: list[dict] = []
        for pre_stages, _spans, tag, _primary, _copies, _gate in plans:
            pre = Pattern()
            pre._stages = pre_stages
            pre._within = within
            pat_p, define_p, user_p, within_p = pre.compile(
                emit="all", lookahead_window=lookahead
            )
            # _prefix_raw strips trailing NOT stages, so a prefix never
            # ends in a terminal notFollowedBy
            assert pre._terminal_not is None, tag
            specs.append(dict(
                pattern=pat_p,
                define=define_p,
                tag=tag,
                user_syms=list(user_p),
                within=within_p,
                iter_define=pre._iter_define or None,
                filler_syms=[k for k in define_p if k not in user_p] or None,
                fluid_links=(
                    list(pre._fluid_links or []) + _fluid_specs(pre_stages)
                ) or None,
                greedy_spans=list(pre._greedy_spans or []) or None,
            ))
        full_tag = "__full"
        if skip_mode != "no_skip":
            # the skip route's full-pattern pass: the same sequential
            # plan flat_select runs (the round-13 decomposition put
            # 3.3 s of q_cep_timeout_skip's 11.3 s at sf0.1 in a
            # separate pass that re-paid the shuffle of the SAME base)
            full, full_usr = self._batch_plan()
            specs.append(dict(full, tag=full_tag, user_syms=list(full_usr)))
        from pyspark import StorageLevel

        shared = match_recognize_multi(base, keys, order, specs).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        multi_rows = {
            s["tag"]: shared.where(F.col("__plan") == s["tag"]).drop("__plan")
            for s in specs
        }

        frames = [(_timeouts(*plan), plan[2]) for plan in plans]

        pruned = None
        if skip_mode != "no_skip":
            # AfterMatchSkipStrategy: emitted matches silently discard
            # partial branches whose start event is covered by the
            # pruning id before their horizon (NFA.java:396-436 +
            # aftermatch/*.java). Matches come from the SAME sequential
            # matcher the match output uses (first-completed surviving
            # expansion per start = the reference's earliest-completion
            # winner among same-start candidates); the emission replay
            # in skip_prune_verdicts handles deferred emission gated by
            # earlier-starting never-completing partials.
            from reshape_on_flink_spark.operators.cep import (
                skip_prune_verdicts,
            )

            parts = None
            for (_rows, surv, dead), _tag in frames:
                sel = surv.select(
                    *keys, "__srid", "__horizon", F.lit(0).alias("__gate")
                )
                parts = sel if parts is None else parts.unionByName(sel)
                if dead is not None:
                    parts = parts.unionByName(dead.select(
                        *keys,
                        "__srid",
                        F.col("__gt").alias("__horizon"),
                        F.lit(1).alias("__gate"),
                    ))
            # per start: gate until the LATEST-dying computation; any
            # surviving branch (gate 0, horizon = first + within, always
            # past every same-start kill tick) keeps the start reportable
            parts = parts.groupBy(*keys, "__srid").agg(
                F.max("__horizon").alias("__horizon"),
                F.min("__gate").alias("__gate"),
            )
            mrows = multi_rows[full_tag]
            if skip_mode == "past_last_row":
                prid = F.max("__to_rid")
            elif skip_mode == "to_next_row":
                prid = F.min("__to_rid")
            elif skip_mode == "to_first":
                prid = F.min(
                    F.when(F.col("matched_symbol") == skip_sym, F.col("__to_rid"))
                )
            else:  # to_last
                prid = F.max(
                    F.when(F.col("matched_symbol") == skip_sym, F.col("__to_rid"))
                )
            # terminal notFollowedBy: the match is a pending branch that
            # completes AT horizon close (advanceTime turns the timed-out
            # pending into a potential match), not at its last row
            etick = (
                F.min(F.struct("__to_rid", "__to_tick"))["__to_tick"]
                + F.lit(delta)
                if terminal_tn
                else F.max(F.struct("__to_rid", "__to_tick"))["__to_tick"]
            )
            msum = (
                mrows.groupBy(*keys, "match_id")
                .agg(
                    F.min("__to_rid").alias("__srid"),
                    etick.alias("__etick"),
                    prid.alias("__prid"),
                )
                .drop("match_id")
            )
            ev = base.select(
                *keys,
                F.col("__to_rid").alias("__rid"),
                F.col("__to_tick").alias("__tick"),
            )
            pruned = skip_prune_verdicts(
                ev, msum, parts, keys,
                strict=skip_mode in ("to_first", "to_last"),
            )

        ts = (
            F.timestamp_micros(F.col("__horizon").cast("long"))
            if is_time
            else F.col("__horizon")
        )
        outs = []
        for (rows, surv, _dead), tag in frames:
            if pruned is not None:
                surv = surv.join(pruned, [*keys, "__srid"], "left_anti")
            out = rows.join(
                surv.select(*keys, "match_id", "__horizon"),
                [*keys, "match_id"],
                "inner",
            )
            outs.append(
                out.select(
                    *user_cols,
                    F.regexp_replace(
                        F.col("matched_symbol"), "__gq$", ""
                    ).alias("matched_symbol"),
                    F.concat_ws(
                        "#", F.lit(tag), F.col("match_id").cast("string")
                    ).alias("timeout_id"),
                    ts.alias("timeout_ts"),
                    F.col("__to_rid").alias("__dd_rid"),
                )
            )
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        if overlap_dedup:
            # set-level collapse across plans (see overlap_dedup above):
            # one reported partial per (keys, event set) — the rid makes
            # the signature tie-proof, stripped symbols ride along so
            # distinct assignments over the same rows stay distinct only
            # if they differ in labeling (they cannot: same conditions)
            sigs = res.groupBy(*keys, "timeout_id").agg(
                F.sha2(
                    F.concat_ws(
                        ",",
                        F.sort_array(F.collect_list(F.concat_ws(
                            ":",
                            F.col("__dd_rid").cast("string"),
                            F.col("matched_symbol"),
                        ))),
                    ),
                    256,
                ).alias("__dd_sig"),
            )
            win = (
                sigs.withColumn(
                    "__dd_rn",
                    F.row_number().over(
                        SW.partitionBy(*keys, "__dd_sig").orderBy(
                            "timeout_id"
                        )
                    ),
                )
                .where(F.col("__dd_rn") == 1)
                .select(*keys, "timeout_id")
            )
            res = res.join(win, [*keys, "timeout_id"], "left_semi")
        return res.drop("__dd_rid")

    def select(self, **measures: Column) -> DataFrame:
        """ONE ROW PER MATCH: key columns + match_id + the given
        aggregate measures over the match's (non-skipped) rows. Use
        :func:`sym` to scope a column to one pattern symbol."""
        rows = self.flat_select()
        aggs = [v.alias(k) for k, v in measures.items()]
        return rows.groupBy(*self._keys, "match_id").agg(*aggs)


def sym(symbol: str, col: str | Column) -> Column:
    """``sym("b", "price")`` — the column restricted to rows matched by
    one pattern symbol (NULL elsewhere), for use inside
    :meth:`PatternStream.select` aggregates, e.g.
    ``F.max(sym("b", "price"))`` = MATCH_RECOGNIZE ``MAX(B.price)``."""
    col = F.col(col) if isinstance(col, str) else col
    return F.when(F.col("matched_symbol") == symbol, col)


class CEP:
    """CEP.java analog: entry point binding a pattern to a DataFrame."""

    @staticmethod
    def pattern(
        df: DataFrame,
        pattern: Pattern,
        key_by: str | list[str],
        order_by: str | list[str],
        after_match: str = "past_last_row",
    ) -> PatternStream:
        return PatternStream(df, pattern, key_by, order_by, after_match)
