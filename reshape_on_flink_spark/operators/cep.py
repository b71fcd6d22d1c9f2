"""MATCH_RECOGNIZE — SQL row-pattern matching (CEP).

Reference: StreamExecMatch
(flink-table-planner-blink/.../nodes/exec/stream/StreamExecMatch.java:90)
delegating to the flink-cep NFA (flink-libraries/flink-cep/.../operator/
CepOperator.java:81). Supported subset here: a concatenation pattern of
quantified symbols or alternation groups (``A (B|C)+ D?``), per-symbol
boolean DEFINE conditions, greedy quantifiers with backtracking, and
Flink's default ``AFTER MATCH SKIP PAST LAST ROW``. Because DEFINE
conditions are precomputed per-symbol booleans (no dependence on the
in-progress match), an alternation group matches exactly the OR of its
symbols' columns; the reported ``matched_symbol`` is the leftmost
alternative true at that row. Reluctant quantifiers (``+? *? ??``)
search smallest-run-first — in streaming a reluctant match is emitted
immediately (future rows cannot shrink it), where greedy must wait for
closure. Batch supports all AFTER MATCH SKIP strategies (past last row
/ to next row / to first|last SYM, with Flink's infinite-loop guard);
streaming supports past-last-row only (overlapping matches would need
re-emittable history in keyed state).

Nested pattern groups (``A (B C+)+ D``, ``((A|B) C){2,3}``) and bounded
quantifiers (``{n}``, ``{n,}``, ``{n,m}``, reluctant with trailing
``?``) run on a generic backtracking AST matcher
(``parse_pattern_ast`` / ``_ast_matcher``) with exact regex branch
priority; flat patterns keep the specialized numpy matcher below (same
semantics, less per-row overhead). Both paths share the three-way
streaming verdict (match / no-match / need-more).

Spark-first split of work:

1. **DEFINE conditions are Catalyst expressions** — evaluated JVM-side
   (whole-stage codegen, may use ``F.lag(...).over(...)`` for Flink's
   ``PREV``) into one boolean column per symbol *before* grouping. The
   Python matcher never evaluates predicates, it only walks bit arrays.
2. **The NFA walk** is `applyInPandas` per partition key: rows arrive
   Arrow-batched, sorted by the order column inside the group; the
   backtracking matcher is O(rows · pattern) except on adversarial
   overlap. Output = matched rows + (match_id, matched_symbol); MEASURES
   are then ordinary Spark aggregations over match_id — keeping the
   aggregation JVM-side instead of hiding it in Python.

100 TB design: one shuffle on the partition key (same as any keyed op);
state is bounded by a single key's rows in one Arrow batch. Skewed keys
hurt exactly like any groupBy — pre-split hot keys upstream if a single
key's history exceeds executor memory (the matcher is sequential per key
by semantics, as in Flink).
"""

from __future__ import annotations

import dataclasses
import re

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TOKEN_RE = re.compile(
    r"^(?:([A-Za-z_]\w*)|\(([A-Za-z_]\w*(?:\|[A-Za-z_]\w*)+)\))([+*?]\??|)$"
)


def parse_pattern(pattern: str) -> list[tuple[str | tuple[str, ...], str]]:
    """``"A (B|C)+ D?"`` -> ``[("A", ""), (("B", "C"), "+"), ("D", "?")]``
    — plain tokens stay strings, alternation groups become tuples.
    Quantifiers: greedy ``+ * ?`` and reluctant ``+? *? ??``."""
    toks: list[tuple[str | tuple[str, ...], str]] = []
    for raw in pattern.split():
        m = _TOKEN_RE.match(raw)
        if not m:
            raise ValueError(
                f"unsupported pattern token {raw!r} (supported: SYMBOL or "
                "(S1|S2|...) with optional +, *, ?, +?, *?, ?? — no "
                "nested groups)"
            )
        sym = m.group(1) if m.group(1) else tuple(m.group(2).split("|"))
        toks.append((sym, m.group(3)))
    if not toks:
        raise ValueError("empty pattern")
    return toks


def pattern_symbols(toks: list[tuple[str | tuple[str, ...], str]]) -> list[str]:
    """Sorted distinct symbols across plain tokens and alternation groups."""
    out: set[str] = set()
    for sym, _ in toks:
        out.update((sym,) if isinstance(sym, str) else sym)
    return sorted(out)


# ---------------------------------------------------------------------------
# Generic nested-pattern path: recursive-descent parser + backtracking
# generator matcher. Used when the flat tokenizer above can't express the
# pattern (nested groups, multi-symbol sequences inside groups, bounded
# quantifiers); flat patterns stay on the numpy matcher.
# ---------------------------------------------------------------------------

_AST_TOKEN_RE = re.compile(r"[A-Za-z_]\w*|\{\d+(?:,\d*)?\}|[()|+*?]")
_BRACE_RE = re.compile(r"\{(\d+)(?:,(\d*))?\}")

# a quantifier is (min, max|None=inf, greedy)
_QUANT_SIMPLE = {
    "+": (1, None), "*": (0, None), "?": (0, 1),
}


def parse_pattern_ast(pattern: str) -> list:
    """Parse the full MATCH_RECOGNIZE pattern grammar.

    Returns a *sequence*: ``list[(node, (min, max, greedy))]`` where
    ``node`` is either a symbol name (str) or an alternation — a
    ``list`` of alternative sequences (a single-alternative list is a
    plain group). ``max`` is None for unbounded. Grammar::

        seq   := term+
        term  := atom quant?
        atom  := SYMBOL | '(' seq ('|' seq)* ')'
        quant := + | * | ? | {n} | {n,} | {n,m}   (optionally + '?' | '+')

    A trailing ``?`` makes the quantifier reluctant, a trailing ``+``
    possessive (``b++``, ``( x )*+``): under the all-matches enumerator
    a possessive quantifier COMMITS to its longest completing expansion
    instead of enumerating every count — Flink's ``greedy()`` modifier
    under noSkip emission (GreedyITCase). Single-match matchers treat
    possessive as plain greedy (longest-first backtracking, the
    completing superset).
    """
    toks = _AST_TOKEN_RE.findall(pattern)
    if "".join(toks).replace(" ", "") != pattern.replace(" ", ""):
        bad = re.sub(r"[A-Za-z_0-9(){}|+*?,\s]", "", pattern)
        raise ValueError(f"unsupported characters in pattern {pattern!r}: {bad!r}")
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_quant():
        nonlocal pos
        t = peek()
        if t in _QUANT_SIMPLE:
            take()
            m, M = _QUANT_SIMPLE[t]
        elif t is not None and t.startswith("{"):
            take()
            bm = _BRACE_RE.match(t)
            lo = int(bm.group(1))
            M = None if bm.group(2) == "" else int(bm.group(2) if bm.group(2) is not None else bm.group(1))
            m = lo
            if M is not None and M < m:
                raise ValueError(f"bad quantifier bounds in {t!r}")
        else:
            return (1, 1, True)
        greedy = True
        if peek() == "?":
            take()
            greedy = False
        elif peek() == "+":
            take()
            greedy = "poss"
        return (m, M, greedy)

    def parse_seq():
        items = []
        while peek() is not None and peek() not in (")", "|"):
            t = take()
            if t == "(":
                alts = [parse_seq()]
                while peek() == "|":
                    take()
                    alts.append(parse_seq())
                if take_expect(")"):
                    pass
                node = alts
            elif re.match(r"^[A-Za-z_]\w*$", t):
                node = t
            else:
                raise ValueError(f"unexpected token {t!r} in pattern {pattern!r}")
            items.append((node, parse_quant()))
        if not items:
            raise ValueError(f"empty group/sequence in pattern {pattern!r}")
        return items

    def take_expect(tok):
        t = peek()
        if t != tok:
            raise ValueError(f"expected {tok!r} in pattern {pattern!r}, got {t!r}")
        take()
        return True

    seq = parse_seq()
    if pos != len(toks):
        raise ValueError(f"trailing tokens in pattern {pattern!r}: {toks[pos:]}")
    return seq


def ast_symbols(seq: list) -> list[str]:
    out: set[str] = set()

    def walk(items):
        for node, _ in items:
            if isinstance(node, str):
                out.add(node)
            else:
                for alt in node:
                    walk(alt)

    walk(seq)
    return sorted(out)


def _is_flat(pattern: str) -> bool:
    try:
        parse_pattern(pattern)
        return True
    except ValueError:
        return False


def symbols_of(pattern: str) -> list[str]:
    """Distinct symbols of a pattern, flat or nested."""
    if _is_flat(pattern):
        return pattern_symbols(parse_pattern(pattern))
    return ast_symbols(parse_pattern_ast(pattern))


def _ast_matcher(symbols: list[str], seq: list, modes: bool = False):
    """Backtracking matcher over per-symbol boolean arrays for arbitrary
    nesting, exploring branches in exact regex priority order (greedy =
    more repetitions / take-branch first; reluctant = fewer / skip
    first; alternatives left to right).

    With ``modes=True``, end-of-data is a distinct verdict exactly as in
    ``_matcher_modes``: because candidates are generated lazily in
    priority order, any branch that had to test a row at ``pos >= n``
    *before* the first candidate appeared means a higher-or-equal
    priority continuation depends on unseen rows — the NFA cannot
    commit, so the verdict is ``_NEED_MORE``.

    Worst case is exponential on adversarially ambiguous nests (as in
    any backtracking regex engine); per-key input is one Arrow batch, so
    the blast radius is a single group, same as Flink's NFA.

    ``match_at(bools, start, n, ic=None)``: ``ic`` is an optional
    per-symbol-index list of *iterative conditions* — Flink's
    ``IterativeCondition`` (flink-libraries/flink-cep/.../pattern/
    conditions/IterativeCondition.java): ``ic[si](pos, taken) -> bool``
    is evaluated ON TOP of the static ``bools`` column when the branch
    tries to consume row ``pos``, with ``taken`` the tuple of
    ``(pos, sym_index)`` rows already accepted along this branch (the
    partial match — what ``ctx.getEventsForPattern`` exposes). The
    partial match is threaded through every generator top-down, so
    conditions see exactly the NFA's per-branch computation state.
    """
    sym_idx = {s: i for i, s in enumerate(symbols)}

    def compile_seq(items):
        return [
            (sym_idx[node] if isinstance(node, str) else [compile_seq(a) for a in node], q)
            for node, q in items
        ]

    seq_c = compile_seq(seq)

    def match_at(bools, start: int, n: int, ic=None):
        hit_end = False

        def sym_gen(si, pos, taken):
            nonlocal hit_end
            if pos >= n:
                if modes:
                    hit_end = True
                return
            if bools[si][pos] and (ic is None or ic[si] is None or ic[si](pos, taken)):
                yield pos + 1, taken + ((pos, si),)

        def node_gen(node, pos, taken):
            if isinstance(node, int):
                yield from sym_gen(node, pos, taken)
            else:
                for alt in node:
                    yield from seq_gen(alt, 0, pos, taken)

        def rep_gen(node, pos, m, M, greedy, taken):
            def rep(p, count, t):
                if greedy:
                    if M is None or count < M:
                        for p1, t1 in node_gen(node, p, t):
                            if p1 == p:
                                continue  # empty-body repetition guard
                            yield from rep(p1, count + 1, t1)
                    if count >= m:
                        yield p, t
                else:
                    if count >= m:
                        yield p, t
                    if M is None or count < M:
                        for p1, t1 in node_gen(node, p, t):
                            if p1 == p:
                                continue
                            yield from rep(p1, count + 1, t1)

            yield from rep(pos, 0, taken)

        def seq_gen(items, i, pos, taken):
            if i == len(items):
                yield pos, taken
                return
            node, (m, M, greedy) = items[i]
            if (m, M) == (1, 1):
                source = node_gen(node, pos, taken)
            else:
                source = rep_gen(node, pos, m, M, greedy, taken)
            for p1, t1 in source:
                yield from seq_gen(items, i + 1, p1, t1)

        first = next(seq_gen(seq_c, 0, start, ()), None)
        if modes and hit_end:
            return _NEED_MORE
        return list(first[1]) if first is not None else None

    return match_at


def _ast_enumerator(symbols: list[str], seq: list, modes: bool = False):
    """ALL-matches enumerator for Flink's NO_SKIP emission.

    Returns ``enum_at(bools, start, n) -> list[match]`` (each match a
    list of ``(pos, symbol_index)``), enumerating every *distinct* way
    the pattern can match at ``start`` — Flink's NFA branch semantics
    (flink-libraries/flink-cep/.../nfa/NFA.java: a looping state both
    PROCEEDs and loops, so every loop expansion is its own match;
    AfterMatchSkipStrategy.noSkip() emits them all — see the reference
    contiguity matrix in docs/content/docs/libs/cep.md "consecutive"/
    "allowCombinations" and AfterMatchSkipITCase.testNoSkip*).

    Quantifier flags select branch-vs-commit per choice point:

    - greedy quantifier  -> ENUMERATE all expansion counts (the NFA
      branch). More-reps-first order, so the longest expansion gets the
      lowest match ordinal at a given prefix.
    - reluctant quantifier -> DETERMINISTIC: commit to the first
      expansion that completes at least one overall match (fewest reps
      = Flink's "first completed" branch; this is what makes relaxed
      stage-gap fillers ``__gap*?`` take the FIRST matching next-stage
      event instead of fanning out into followedByAny semantics).
    - possessive quantifier (``++``/``*+``/``{m,n}+``) -> DETERMINISTIC
      from the other end: commit to the LONGEST expansion that
      completes a match — Flink's ``greedy()`` under noSkip
      (GreedyITCase: greedy states don't branch to PROCEED while the
      loop can still consume).

    Matches are deduped on their (pos, symbol) row-sets — two
    derivations yielding the same rows are one Flink match.

    With ``modes=True`` (streaming): if any explored branch had to test
    a row at ``pos >= n``, the full set is undecided (a future row could
    add a longer expansion) and ``_NEED_MORE`` is returned — same
    closure rule as ``_matcher_modes``.

    ``enum_at(bools, start, n, ic=None)``: ``ic`` is the optional
    per-symbol-index iterative-condition list (see ``_ast_matcher``):
    ``ic[si](pos, taken) -> bool`` runs on top of the static column
    when a branch consumes row ``pos``, with ``taken`` the branch's
    partial match so far — Flink's ``IterativeCondition.Context``.
    """
    sym_idx = {s: i for i, s in enumerate(symbols)}

    def compile_seq(items):
        return [
            (sym_idx[node] if isinstance(node, str) else [compile_seq(a) for a in node], q)
            for node, q in items
        ]

    seq_c = compile_seq(seq)

    def enum_at(bools, start: int, n: int, ic=None):
        hit_end = False
        results: list[list] = []
        seen: set = set()

        def node_cands(node, pos, taken):
            nonlocal hit_end
            if isinstance(node, int):
                if pos >= n:
                    if modes:
                        hit_end = True
                    return
                if bools[node][pos] and (
                    ic is None or ic[node] is None or ic[node](pos, taken)
                ):
                    yield pos + 1, taken + ((pos, node),)
            else:
                for alt in node:
                    yield from group_seq(alt, 0, pos, taken)

        def item_cands(node, m, M, greedy, pos, taken):
            if (m, M) == (1, 1):
                yield from node_cands(node, pos, taken)
                return

            def rep(p, count, t):
                if greedy:
                    if M is None or count < M:
                        for p1, t1 in node_cands(node, p, t):
                            if p1 == p:
                                continue  # empty-body repetition guard
                            yield from rep(p1, count + 1, t1)
                    if count >= m:
                        yield p, t
                else:
                    if count >= m:
                        yield p, t
                    if M is None or count < M:
                        for p1, t1 in node_cands(node, p, t):
                            if p1 == p:
                                continue
                            yield from rep(p1, count + 1, t1)

            yield from rep(pos, 0, taken)

        def group_seq(items, i, pos, taken):
            """All (end, partial-match) completions of a group's inner
            sequence. Inner reluctant items commit to their first
            expansion that lets the GROUP complete (local cut; exact for
            the gap-filler groups the fluent compiler emits, where inner
            fillers are either forced or fully enumerated)."""
            if i == len(items):
                yield pos, taken
                return
            node, (m, M, greedy) = items[i]
            for p1, t1 in item_cands(node, m, M, greedy, pos, taken):
                got = False
                for p2, t2 in group_seq(items, i + 1, p1, t1):
                    got = True
                    yield p2, t2
                if greedy is not True and got:
                    break  # reluctant commits shortest, possessive longest

        def seq_all(items, idx, pos, taken) -> int:
            if idx == len(items):
                if taken:
                    if taken not in seen:
                        seen.add(taken)
                        results.append(list(taken))
                        return 1
                return 0
            node, (m, M, greedy) = items[idx]
            added = 0
            for p1, t1 in item_cands(node, m, M, greedy, pos, taken):
                got = seq_all(items, idx + 1, p1, t1)
                added += got
                if greedy is not True and got:
                    break  # reluctant commits shortest, possessive longest
            return added

        seq_all(seq_c, 0, start, ())
        if modes and hit_end:
            return _NEED_MORE
        return results

    return enum_at


def _token_cols(symbols: list[str], toks):
    """Per-token (alternative symbol indexes, quantifier); a one-entry
    cache maps a bools list -> per-token OR'd match columns so the scan
    loop (one match_at per start offset) reuses the merge."""
    sym_idx = {s: i for i, s in enumerate(symbols)}
    toks_i = [
        (tuple(sym_idx[s] for s in ((sym,) if isinstance(sym, str) else sym)), q)
        for sym, q in toks
    ]
    cache: dict = {"key": None, "cols": None}

    def cols_for(bools):
        if cache["key"] is not bools:
            cache["key"] = bools
            cache["cols"] = [
                bools[idxs[0]]
                if len(idxs) == 1
                else np.logical_or.reduce([np.asarray(bools[i]) for i in idxs])
                for idxs, _ in toks_i
            ]
        return cache["cols"]

    def label_at(bools, ti: int, pos: int) -> int:
        for i in toks_i[ti][0]:
            if bools[i][pos]:
                return i
        return toks_i[ti][0][0]

    return toks_i, cols_for, label_at


def _matcher(symbols: list[str], toks: list[tuple[str | tuple[str, ...], str]]):
    """Build the per-group backtracking matcher (pure Python on numpy
    bool arrays; no pandas/Spark objects inside the hot loop).
    Alternation groups match on the OR of their symbol columns; the
    emitted symbol index is the leftmost alternative true at that row."""
    toks_i, cols_for, label_at = _token_cols(symbols, toks)

    def match_at(bools, start: int, n: int, ic=None):
        if ic is not None:  # iterative conditions route through the AST matchers
            raise ValueError("the flat matcher does not evaluate iterative conditions")
        cols = cols_for(bools)

        def lab(ti: int, pos: int) -> int:
            idxs = toks_i[ti][0]
            return idxs[0] if len(idxs) == 1 else label_at(bools, ti, pos)

        def rec(ti: int, pos: int):
            if ti == len(toks_i):
                return []
            _, q = toks_i[ti]
            col = cols[ti]
            if q == "":
                if pos < n and col[pos]:
                    rest = rec(ti + 1, pos + 1)
                    if rest is not None:
                        return [(pos, lab(ti, pos)), *rest]
                return None
            if q in ("?", "??"):
                branches = ("take", "skip") if q == "?" else ("skip", "take")
                for b in branches:
                    if b == "take":
                        if pos < n and col[pos]:
                            rest = rec(ti + 1, pos + 1)
                            if rest is not None:
                                return [(pos, lab(ti, pos)), *rest]
                    else:
                        rest = rec(ti + 1, pos)
                        if rest is not None:
                            return rest
                return None
            min_k = 1 if q[0] == "+" else 0
            if q.endswith("?"):  # reluctant + / * : smallest run first
                for j in range(min_k):
                    if pos + j >= n or not col[pos + j]:
                        return None
                k = min_k
                while True:
                    rest = rec(ti + 1, pos + k)
                    if rest is not None:
                        return [(pos + j, lab(ti, pos + j)) for j in range(k)] + [*rest]
                    if pos + k >= n or not col[pos + k]:
                        return None
                    k += 1
            # greedy + / * with backtracking
            k = 0
            while pos + k < n and col[pos + k]:
                k += 1
            while k >= min_k:
                rest = rec(ti + 1, pos + k)
                if rest is not None:
                    return [(pos + j, lab(ti, pos + j)) for j in range(k)] + [*rest]
                k -= 1
            return None

        return rec(0, start)

    return match_at


_RX_BASE = 0x100  # bitmask -> char offset (dodges ASCII regex metachars)
_RX_MAX_SYMBOLS = 12  # 2^12 chars stays well under the surrogate range


def _flat_to_ast(toks) -> list:
    """Flat token list -> AST sequence form, so one regex builder serves
    both parse paths."""
    q_map = {
        "": (1, 1, True), "+": (1, None, True), "+?": (1, None, False),
        "*": (0, None, True), "*?": (0, None, False),
        "?": (0, 1, True), "??": (0, 1, False),
    }
    out = []
    for sym, q in toks:
        if isinstance(sym, str):
            node = sym
        else:  # alternation tuple -> group of single-symbol branches
            node = [[(s, (1, 1, True))] for s in sym]
        out.append((node, q_map[q]))
    return out


def _bitmask_regex(symbols: list[str], seq: list) -> "re.Pattern | None":
    """Compile the pattern to a Python regex over the per-row bitmask
    encoding (row char = _RX_BASE + sum(bools[s] << s)): a symbol
    becomes the character class of all bitmask values with its bit set,
    so rows satisfying several DEFINEs stay fully general. Python's
    backtracking `re` has exactly the branch priority of the AST
    matcher (property-tested), which makes `rx.search(s, i)` a C-speed
    'first position >= i where a match starts' — the scan's hot loop.
    Returns None when the symbol count exceeds the encoding budget."""
    n = len(symbols)
    if n > _RX_MAX_SYMBOLS:
        return None

    def cls(mask: int) -> str:
        vals = [m for m in range(1 << n) if m & mask]
        parts, lo = [], None
        for v in vals:
            if lo is None:
                lo = hi = v
            elif v == hi + 1:
                hi = v
            else:
                parts.append((lo, hi))
                lo = hi = v
        parts.append((lo, hi))
        out = []
        for a, b in parts:
            ca, cb = chr(_RX_BASE + a), chr(_RX_BASE + b)
            out.append(ca if a == b else f"{ca}-{cb}")
        return "[" + "".join(out) + "]"

    sym_idx = {s: i for i, s in enumerate(symbols)}

    def rx_item(node, quant) -> str:
        m, M, greedy = quant
        if isinstance(node, str):
            body = cls(1 << sym_idx[node])
        else:
            body = "(?:" + "|".join(rx_seq(alt) for alt in node) + ")"
        if (m, M) == (1, 1):
            q = ""
        elif (m, M) == (0, 1):
            q = "?"
        elif (m, M) == (1, None):
            q = "+"
        elif (m, M) == (0, None):
            q = "*"
        elif M is None:
            q = f"{{{m},}}"
        else:
            q = f"{{{m},{M}}}"
        if q and not greedy:
            q += "?"
        return body + q

    def rx_seq(items) -> str:
        return "".join(rx_item(node, quant) for node, quant in items)

    return re.compile(rx_seq(seq), re.DOTALL)


def _encode_bitmask_str(bools, n: int) -> str:
    """Rows -> the bitmask string the compiled regex scans."""
    acc = np.zeros(n, dtype=np.int32)
    for b, col in enumerate(bools):
        acc = acc + (np.asarray(col, dtype=np.int32) << b)
    return "".join(map(chr, (acc + _RX_BASE).tolist()))


def _first_idx_flat(symbols: list[str], toks) -> list[int]:
    """Indexes of symbols that can match the FIRST row of a non-empty
    match (prefix of optional tokens + the first mandatory one). Used to
    skip scan positions cheaply: a match can only start where one of
    these symbol columns is true."""
    sym_idx = {s: i for i, s in enumerate(symbols)}
    out: set[int] = set()
    for sym, q in toks:
        out.update(sym_idx[s] for s in ((sym,) if isinstance(sym, str) else sym))
        if q in ("", "+", "+?"):
            break
    return sorted(out)


def _first_idx_ast(symbols: list[str], seq: list) -> list[int]:
    """First-set for the nested AST (conservative superset — safe to
    over-include, never to miss)."""
    sym_idx = {s: i for i, s in enumerate(symbols)}
    out: set[int] = set()

    def add_seq(items) -> bool:  # True if the sequence can match empty
        for node, (m, _M, _g) in items:
            if isinstance(node, str):
                out.add(sym_idx[node])
                node_empty = False
            else:
                node_empty = any([add_seq(alt) for alt in node])
            if m > 0 and not node_empty:
                return False
        return True

    add_seq(seq)
    return sorted(out)


def _fluid_ok(m, bools, sym_index, specs) -> bool:
    """Two-path iteration-link rule for group loops with OPTIONAL tail
    leaves (round 12, late — NFACompiler state-graph semantics). The
    token grammar composes the optional tail's NOT(tail) gap with the
    loop's NOT(entry) lgap, admitting entry..tail..entry link gaps that
    no NFA computation survives: the tail-waiter force-takes the first
    tail event, the boundary copy force-takes the first entry. Each
    surviving copy is one PURE ignore path, so a link gap after a
    TAIL-ABSENT iteration end is valid iff it is S-free for SOME S in
    {conds of the optable leaves after the end} ∪ {entry}.

    ``m``: ordered candidate [(pos, symidx)]; ``sym_index``: symbol
    name (suffix-stripped — a renamed group-copy leaf shares its
    original's condition) -> bools index; ``specs``: list of
    [(leaf_name, optable)] per fluid group, leaf order, names stripped.
    """
    for lv in specs:
        fam = {name: j for j, (name, _o) in enumerate(lv)}
        prev = None
        for pos, si in m:
            nm = sym_index[1][si]
            j = fam.get(nm)
            if j is None:
                continue
            if j == 0 and prev is not None:
                ppos, pj = prev
                if pj < len(lv) - 1:  # tail-absent iteration end
                    names = [
                        lv[k][0]
                        for k in range(pj + 1, len(lv))
                        if lv[k][1]
                    ]
                    names.append(lv[0][0])
                    gap = slice(ppos + 1, pos)
                    if not any(
                        not bools[sym_index[0][s]][gap].any()
                        for s in names
                    ):
                        return False
            prev = (pos, j)
    return True


def _greedy_ok(m, bools, sym_index, specs, filler_idx) -> bool:
    """Greedy sink-guard rule replayed on an enumerated candidate
    (round 13 — NFACompiler.updateWithGreedyCondition: every transition
    of the greedy stage's PROCEED sink is ANDed with NOT(take), and the
    looping ignoreState has no PROCEED edge, so the loop-to-sink jump
    happens at exactly one event per branch).

    Per spec ``(loop_name, prev_name, sink_name, mode)``:

    - anchor = the candidate's last row taken by the loop; a ZERO-take
      assignment anchors on ``prev_name``'s last row under ``'anchor'``
      (without prior NOTs there is only ONE sink state and it is
      guarded — copyWithoutTransitiveNots returns its argument;
      GreedyITCase testGreedyZeroOrMore kills {c,d} over ``c a a a
      d``) and is exempt under ``'exempt0'`` (unbounded optional loop
      preceded by a NOT: the zero-take PROCEED targets the unguarded
      original).
    - if the next taken row belongs to the sink stage: reject iff any
      loop-take-able event lies in (anchor, next] — the branch either
      waited at the guarded sink through it or its take carried the
      guard.
    - if the sink was skipped (optional): reject iff the FIRST event
      after the anchor is loop-take-able — the 'IGNORE after PROCEED'
      copy past the sink spawns only at that event and is unguarded
      afterwards.
    - a candidate ENDING at the loop (all-optional tail) is kept — a
      permissive reading of the unpinned corner (no GreedyITCase
      fixture ends a guarded greedy before an absent optional tail).
    - a greedy loop INSIDE a quantified group repeats once per
      iteration (round 14): ``convertPattern`` re-applies
      ``updateWithGreedyCondition`` inside EVERY iteration copy, so the
      rule runs per maximal RUN of the loop symbol — each run's sink
      jump is guarded independently. Spec names may carry the
      ``__gq`` completed-iterations rename; runs unify on the stripped
      name (the rename preserves the take condition).
    """
    idx_of, strip = sym_index
    user = [(p, strip[si]) for p, si in m if si not in filler_idx]
    for loop_name, prev_name, sink_name, mode in specs:
        loop = loop_name[:-4] if loop_name.endswith("__gq") else loop_name
        sink = (
            sink_name[:-4]
            if sink_name is not None and sink_name.endswith("__gq")
            else sink_name
        )
        prev = (
            prev_name[:-4]
            if prev_name is not None and prev_name.endswith("__gq")
            else prev_name
        )
        li = idx_of.get(loop)
        if li is None:
            continue
        g = bools[li]
        anchors = [
            p
            for j, (p, nm) in enumerate(user)
            if nm == loop
            and (j + 1 >= len(user) or user[j + 1][1] != loop)
        ]
        if not anchors:
            if mode == "exempt0":
                continue
            if prev is None:
                continue
            pp = [p for p, nm in user if nm == prev]
            if not pp:
                continue
            anchors = [pp[-1]]
        for a in anchors:
            nxt = next(((p, nm) for p, nm in user if p > a), None)
            if nxt is None:
                continue
            np_, nm_ = nxt
            if nm_ == sink:
                if np.asarray(g[a + 1 : np_ + 1], dtype=bool).any():
                    return False
            elif a + 1 < len(g) and g[a + 1]:
                return False
    return True


def _fluid_index(symbols: list[str]) -> tuple[dict, list]:
    """(stripped name -> bools index, symidx -> stripped name)."""
    strip = [s[:-4] if s.endswith("__gq") else s for s in symbols]
    idx: dict = {}
    for i, s in enumerate(strip):
        idx.setdefault(s, i)
    return idx, strip


def _parse_after_match(after_match: str, symbols: list[str]) -> tuple[str, str | None]:
    """AFTER MATCH SKIP strategy string -> (skip_mode, skip_sym).

    Shared by batch and streaming matchers (reference: NFACompiler /
    AfterMatchSkipStrategy in flink-libraries/flink-cep)."""
    am = after_match.strip().lower().replace("  ", " ")
    am_parts = am.split()
    if am_parts[0] in ("to_first", "to_last"):
        if len(am_parts) != 2:
            raise ValueError(f"after_match {after_match!r}: expected 'to_first SYM'")
        skip_mode, skip_sym = am_parts[0], after_match.split()[1]
        if skip_sym not in symbols:
            raise ValueError(f"AFTER MATCH SKIP TO unknown symbol {skip_sym!r}")
        return skip_mode, skip_sym
    if am in ("past_last_row", "to_next_row", "no_skip"):
        return am, None
    raise ValueError(f"unsupported after_match strategy {after_match!r}")


def _resume_pos(m, skip_mode: str, skip_sym: str | None, symbols: list[str]) -> int:
    """Row position where the scan resumes after emitting match ``m``
    (list of (pos, symbol_index)), per the AFTER MATCH SKIP strategy.
    Raises on the NFA's infinite-loop condition (SKIP TO the match's own
    first row) and on SKIP TO a symbol that mapped no rows — same
    contract as the reference NFA (NFA.java)."""
    if skip_mode == "past_last_row":
        return m[-1][0] + 1
    if skip_mode == "to_next_row":
        return m[0][0] + 1
    mapped = [pos for pos, si in m if symbols[si] == skip_sym]
    if not mapped:
        raise ValueError(
            f"AFTER MATCH SKIP TO {skip_sym}: no rows were "
            "mapped to that symbol in the match"
        )
    resume = mapped[0] if skip_mode == "to_first" else mapped[-1]
    if resume == m[0][0]:
        raise ValueError(
            f"AFTER MATCH SKIP TO {skip_sym} would restart at "
            "the match's own first row (infinite loop)"
        )
    return resume


def _within_delta(within, order_dtype_is_time: bool):
    """Normalize a WITHIN bound: duration string or seconds for a
    timestamp order column (microsecond ticks), raw numeric delta for a
    numeric order column."""
    if isinstance(within, str):
        from reshape_on_flink_spark.operators.windows import parse_duration

        within = parse_duration(within)
    if order_dtype_is_time:
        return float(within) * 1_000_000
    return float(within)


def _time_axis(pdf, order_col: str):
    """(tick array, is_time) for WITHIN bounds over the primary order
    column."""
    v = pdf[order_col].to_numpy()
    if np.issubdtype(v.dtype, np.datetime64):
        return v.astype("datetime64[us]").astype("int64"), True
    return v.astype("float64"), False


class _IterCtx:
    """``IterativeCondition.Context`` analog (flink-libraries/flink-cep/
    .../pattern/conditions/IterativeCondition.java): exposes the events
    already accepted for a pattern symbol along the CURRENT branch of
    the match attempt. ``records`` are per-group row dicts (they include
    the computed ``__sym_*`` static-condition flags, so derived
    conditions — e.g. loop-gap fillers — can read a sibling symbol's
    static verdict without re-evaluating Catalyst expressions)."""

    __slots__ = ("records", "symbols", "taken", "pos", "_order_col", "_timer")

    def __init__(self, records, symbols, order_col=None, timer_service=None):
        self.records = records
        self.symbols = symbols
        self.taken = ()
        self.pos = -1  # physical row index of the event under evaluation
        self._order_col = order_col
        self._timer = timer_service

    def get_events_for_pattern(self, name: str) -> list:
        return [self.records[p] for p, si in self.taken if self.symbols[si] == name]

    def timestamp(self):
        """Event-time of the row under evaluation —
        ``IterativeCondition.Context.timestamp()`` (IterativeCondition.
        java; NFAIterativeConditionTimeContextTest.java:42): the primary
        order column's value, as epoch MILLISECONDS for timestamp
        orders (Flink's StreamRecord timestamp unit) and the raw number
        for numeric orders."""
        v = self.records[self.pos][self._order_col]
        if hasattr(v, "value"):  # pandas Timestamp: ns -> ms
            return int(v.value // 1_000_000)
        return v

    def current_processing_time(self):
        """``Context.currentProcessingTime()`` (NFAIterativeCondition
        TimeContextTest.java:67): wall-clock milliseconds, or the
        injected timer service (the TestTimerService analog — pass
        ``timer_service=`` to match_recognize)."""
        if self._timer is not None:
            return self._timer()
        import time as _time

        return int(_time.time() * 1000)


def _build_ic(pdf, symbols: list[str], n_cols: int, iter_define,
              order_col=None, timer_service=None):
    """Per-group iterative-condition list for the AST matchers:
    ``ic[si](pos, taken) -> bool`` closing over this group's row dicts.
    Returns None when there are no iterative conditions (fast path)."""
    if not iter_define:
        return None
    records = pdf.to_dict("records")
    # ctx exposes SUFFIX-STRIPPED names: a renamed completed-iterations
    # group leaf (name__gq) shares its original's identity, so an
    # IterativeCondition's get_events_for_pattern("B") sees takes from
    # every iteration (round 13)
    ctx = _IterCtx(
        records,
        [s[:-4] if s.endswith("__gq") else s for s in symbols],
        order_col,
        timer_service,
    )
    ic = [None] * n_cols
    for name, fn in iter_define.items():
        si = symbols.index(name)

        def check(pos, taken, fn=fn):
            ctx.taken = taken
            ctx.pos = pos
            return bool(fn(ctx.records[pos], ctx))

        ic[si] = check
    return ic


@dataclasses.dataclass(frozen=True)
class _MatchPlan:
    """One compiled MATCH_RECOGNIZE pass (built on the driver, shipped to
    the Python workers): the route its skip strategy takes and the
    matcher or enumerator that route needs, the scan accelerators, and
    the candidate filters. Both batch harnesses scan with it — the
    chunked scan of :func:`match_recognize_multi` and the grouped
    reference harness of :func:`match_recognize`."""

    tag: str
    symbols: list
    terminal_not: str | None  # extra flag column after the symbols'
    skip_mode: str
    skip_sym: str | None
    # enumerate + filter every expansion per start (NO_SKIP, terminal
    # NOT, fluid links, greedy spans) instead of the backtracking matcher
    use_enum: bool
    enum_at: object
    match_at: object
    rx: object  # bitmask regex scan (None beyond _RX_MAX_SYMBOLS)
    first_idx: list
    fl_idx: object
    filler_idx: frozenset
    fluid_links: list | None
    greedy_spans: list | None
    iter_define: dict | None
    timer_service: object
    within: object
    user_idx: frozenset  # symbols kept in the output

    @property
    def flag_syms(self) -> list:
        """Symbols with a flag column, in bools order."""
        return self.symbols + (
            [self.terminal_not] if self.terminal_not is not None else []
        )


def _compile_plan(
    pattern: str,
    define: dict,
    tag: str = "0",
    user_syms: list[str] | None = None,
    after_match: str = "no_skip",
    within=None,
    terminal_not: str | None = None,
    iter_define: dict | None = None,
    filler_syms: list[str] | None = None,
    fluid_links: list | None = None,
    greedy_spans: list | None = None,
    timer_service=None,
) -> tuple[_MatchPlan, list[Column]]:
    """Parse and check one pass (arguments as in :func:`match_recognize`;
    ``user_syms=None`` keeps every symbol) -> (plan, its flag Columns in
    ``plan.flag_syms`` order). Flat patterns without iterative
    conditions keep the specialized flat matcher; everything else runs
    the AST matcher (property-tested equal)."""
    iter_define = dict(iter_define) if iter_define else None
    fluid_links = list(fluid_links or []) or None
    greedy_spans = list(greedy_spans or []) or None
    if _is_flat(pattern):
        toks = parse_pattern(pattern)
        symbols = pattern_symbols(toks)
        ast = _flat_to_ast(toks)
        first_idx = _first_idx_flat(symbols, toks)
    else:  # nested groups / bounded quantifiers -> generic AST matcher
        toks = None
        ast = parse_pattern_ast(pattern)
        symbols = ast_symbols(ast)
        first_idx = _first_idx_ast(symbols, ast)
    if iter_define:
        unknown = [s for s in iter_define if s not in symbols]
        if unknown:
            raise ValueError(f"iter_define for symbols not in the pattern: {unknown}")
        # a purely-iterative symbol has no static column: flag all rows
        # as statically viable, the iterative check decides per branch
        define = {**{s: F.lit(True) for s in iter_define if s not in define}, **define}
    missing = [s for s in symbols if s not in define]
    if missing:
        raise ValueError(f"pattern symbols without DEFINE: {missing}")
    skip_mode, skip_sym = _parse_after_match(after_match, symbols)
    if terminal_not is not None:
        if within is None:
            raise ValueError(
                "terminal_not requires a within bound (Flink allows "
                "terminal notFollowedBy only with within, Pattern.java:304)"
            )
        if terminal_not in symbols:
            raise ValueError(
                f"terminal_not symbol {terminal_not!r} also appears in the pattern"
            )
        if terminal_not not in define:
            raise ValueError(f"terminal_not symbol {terminal_not!r} has no DEFINE")
    flag_syms = symbols + ([terminal_not] if terminal_not is not None else [])
    only_pandas = [s for s in flag_syms if define[s] is None]
    if only_pandas:
        raise ValueError(
            f"batch CEP needs Catalyst conditions; stages "
            f"{only_pandas} have only pandas predicates"
        )
    use_enum = bool(
        skip_mode == "no_skip" or terminal_not is not None
        or fluid_links or greedy_spans
    )
    if use_enum:
        match_at = None
    elif toks is not None and not iter_define:
        match_at = _matcher(symbols, toks)
    else:  # iterative conditions evaluate per-branch -> AST matcher only
        match_at = _ast_matcher(symbols, ast)
    user_set = set(symbols if user_syms is None else user_syms)
    plan = _MatchPlan(
        tag=str(tag),
        symbols=symbols,
        terminal_not=terminal_not,
        skip_mode=skip_mode,
        skip_sym=skip_sym,
        use_enum=use_enum,
        enum_at=_ast_enumerator(symbols, ast) if use_enum else None,
        match_at=match_at,
        rx=_bitmask_regex(symbols, ast),
        first_idx=first_idx,
        fl_idx=_fluid_index(symbols) if (fluid_links or greedy_spans) else None,
        filler_idx=frozenset(
            symbols.index(s) for s in (filler_syms or ()) if s in symbols
        ),
        fluid_links=fluid_links,
        greedy_spans=greedy_spans,
        iter_define=iter_define,
        timer_service=timer_service,
        within=within,
        user_idx=frozenset(i for i, s in enumerate(symbols) if s in user_set),
    )
    return plan, [F.coalesce(define[s], F.lit(False)) for s in flag_syms]


def _candidates(pl: _MatchPlan, bools, start: int, hi: int, ic) -> list:
    """Every surviving expansion starting at ``start`` (horizon ``hi``):
    the enumerator's candidates through the plan's filters."""
    cands = pl.enum_at(bools, start, hi, ic)
    filler_idx = pl.filler_idx
    if filler_idx:  # drop filler-anchored candidates
        cands = [m for m in cands if m[0][1] not in filler_idx]
        # Flink match identity = the variable->events assignment:
        # candidates differing only in FILLER rows are one match
        # (interchangeable gap splits around absent optional stages)
        # -> dedup on the user-row projection
        seen_u, uniq = set(), []
        for m in cands:
            ku = tuple(r for r in m if r[1] not in filler_idx)
            if ku not in seen_u:
                seen_u.add(ku)
                uniq.append(m)
        cands = uniq
    if pl.fluid_links:
        cands = [m for m in cands if _fluid_ok(m, bools, pl.fl_idx, pl.fluid_links)]
    if pl.greedy_spans:
        cands = [
            m for m in cands
            if _greedy_ok(m, bools, pl.fl_idx, pl.greedy_spans, filler_idx)
        ]
    if pl.terminal_not is not None:
        # terminal NOT: no flagged row in (last row, horizon); each
        # expansion is an independent NFA branch, filtered on its own
        tn = bools[len(pl.symbols)]
        cands = [
            m for m in cands
            if not np.asarray(tn[m[-1][0] + 1 : hi], dtype=bool).any()
        ]
    return cands


def _first_match(pl: _MatchPlan, bools, start: int, hi: int, ic):
    """The single-match route's match at ``start``: the first-completed
    (fewest rows, then earliest positions) surviving expansion when the
    plan enumerates, the backtracking matcher's otherwise; None when
    there is none or it anchors on a filler (it is found again at its
    first real row)."""
    if pl.use_enum:
        cands = _candidates(pl, bools, start, hi, ic)
        if not cands:
            return None
        return min(cands, key=lambda m: (len(m), [p for p, _ in m]))
    m = pl.match_at(bools, start, hi, ic)
    if m and pl.filler_idx and m[0][1] in pl.filler_idx:
        return None
    return m


def _horizon(within, pdf, order_col: str):
    """``bound(i, hi)``: the last row (exclusive) a match starting at row
    ``i`` may reach — ``hi`` clamped by the WITHIN bound."""
    if within is None:
        return lambda i, hi: hi
    tv, is_time = _time_axis(pdf, order_col)
    delta = _within_delta(within, is_time)

    def bound(i: int, hi: int) -> int:
        return min(hi, i + int(np.searchsorted(tv[i:hi], tv[i] + delta, side="left")))

    return bound


def match_recognize(
    df: DataFrame,
    partition_by: str | list[str],
    order_by: str | list[str],
    pattern: str,
    define: dict[str, Column],
    after_match: str = "past_last_row",
    impl: str = "chunked",
    within: str | float | None = None,
    terminal_not: str | None = None,
    iter_define: dict | None = None,
    filler_syms: list[str] | None = None,
    fluid_links: list | None = None,
    greedy_spans: list | None = None,
    timer_service=None,
) -> DataFrame:
    """Rows of every match, annotated with ``match_id`` (0-based ordinal
    within the partition) and ``matched_symbol``.

    ``fluid_links``: two-path iteration-link specs for group loops with
    OPTIONAL tail leaves (see :func:`_fluid_ok`) — forces the
    enumerate+filter route and drops over-admitted link gaps.

    ``greedy_spans``: sink-guard specs for greedy loop stages (see
    :func:`_greedy_ok`) — forces the enumerate+filter route and drops
    candidates whose loop-to-successor jump crosses a loop-take-able
    event (NFACompiler.updateWithGreedyCondition replayed).

    ``define`` maps each pattern symbol to a boolean Catalyst expression;
    use ``F.lag(col).over(Window.partitionBy(keys).orderBy(order))`` for
    Flink's ``PREV``. MEASURES: aggregate the returned rows by
    (partition, match_id) with ordinary Spark aggregations.

    ``after_match`` is the AFTER MATCH SKIP strategy: ``"past_last_row"``
    (default), ``"to_next_row"`` (resume at match start + 1, allows
    overlapping matches), ``"to_first SYM"`` / ``"to_last SYM"`` (resume
    AT the first/last row mapped to SYM). As in Flink, a strategy that
    would restart the scan at the match's own first row raises (infinite
    loop), as does SKIP TO a symbol that mapped no rows.

    ``impl`` selects the execution harness (identical results, pinned by
    ``test_cep_chunked_equals_grouped``):

    - ``"chunked"`` (default): this pass as the one plan of
      :func:`match_recognize_multi` — repartition on the key + sort
      within partitions + ``mapInPandas`` with key-boundary carry across
      Arrow batches. Thousands of keys share one Arrow chunk, so per-key
      overhead amortizes — measured 2-3x faster than grouped-map on
      1500-key fixtures, and the margin grows with key count (the 100 TB
      case is millions of keys).
    - ``"grouped"``: one ``applyInPandas`` group per key with its own
      per-key scan loop. Simpler; kept as the reference harness the
      equality tests compare the chunked scan against.

    ``within`` is Flink's time-bounded pattern (SQL ``PATTERN (...)
    WITHIN INTERVAL ...``; CEP ``Pattern.within`` — flink-libraries/
    flink-cep/.../nfa/NFA.java window pruning): a match is valid only if
    last-row time minus first-row time is strictly less than the bound
    (Flink times out partials at >= window). Implemented by clamping the
    matcher's scan horizon per start row — greedy quantifiers then
    backtrack into the window naturally, which reproduces the NFA's
    prune-and-retry behavior without a timer wheel. The bound reads the
    FIRST order column: a duration string/seconds for timestamps, a raw
    delta for numeric columns.

    ``terminal_not``: a symbol present in ``define`` but NOT in the
    pattern — Flink's terminal ``notFollowedBy`` (legal only with a
    ``within`` bound, Pattern.java:304): a match is valid only if no
    row between its last row (exclusive) and its WITHIN horizon
    satisfies the symbol's condition. Candidate expansions are
    enumerated per start and filtered independently (NFA branches are
    independent: ``a b+ notFollowedBy(x)`` over ``a b1 x b2`` still
    matches ``{a b1 b2}``); under single-match skip strategies the
    first-completed (fewest rows, then earliest positions) SURVIVING
    expansion is emitted — pass an enumerable (greedy) pattern string.

    ``iter_define``: per-symbol ITERATIVE conditions — Flink's
    ``IterativeCondition`` (flink-libraries/flink-cep/.../pattern/
    conditions/IterativeCondition.java; docs/content/docs/libs/cep.md
    "Iterative Conditions"): ``fn(event, ctx) -> bool`` evaluated when
    a branch tries to consume a row, where ``event`` is the row dict
    and ``ctx.get_events_for_pattern(name)`` returns the rows already
    accepted for ``name`` along the current branch of this match
    attempt (the partial match). Runs ON TOP of the symbol's static
    ``define`` condition; a symbol may appear only in ``iter_define``
    (static part defaults to TRUE). Evaluation is per-branch Python —
    the static columns stay vectorized and the bitmask-regex scan
    still prefilters candidate starts, so the slow path runs only on
    statically-viable spans. Scale: everything stays partition-local
    inside the per-key Arrow batch, exactly like the static path.

    ``filler_syms``: symbols that model the fluent compiler's relaxed-
    contiguity IGNORE edges ('__gapN'/'__lgapN'). A match whose FIRST
    consumed row maps to one is discarded: Flink anchors every NFA
    computation at its first TAKEN event (start states have no ignore
    edge), so a filler-led candidate is the same match re-anchored —
    it is found again when the scan reaches its first real row.
    Without this, an optional first stage + relaxed successor emits
    the absent-branch match once per scan position
    (IterativeConditionsITCase.testIterativeWithLoopingStarting
    expects ONE bare {end} match).
    """
    plan = dict(
        pattern=pattern,
        define=define,
        after_match=after_match,
        within=within,
        terminal_not=terminal_not,
        iter_define=iter_define,
        filler_syms=filler_syms,
        fluid_links=fluid_links,
        greedy_spans=greedy_spans,
        timer_service=timer_service,
    )
    if impl == "chunked":
        return match_recognize_multi(
            df, partition_by, order_by, [plan]
        ).drop("__plan")
    if impl != "grouped":
        raise ValueError(f"impl must be 'chunked' or 'grouped', got {impl!r}")

    partition_by = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    order_by = [order_by] if isinstance(order_by, str) else list(order_by)
    pl, flags = _compile_plan(**plan)
    symbols = pl.symbols
    sym_cols = [f"__sym_{s}" for s in pl.flag_syms]
    # one select, not one withColumn per symbol (each withColumn rebuilds
    # and re-analyzes the whole plan — guide §7.3 driver-side cost)
    flagged = df.select("*", *[c.alias(n) for c, n in zip(flags, sym_cols)])

    out_fields = [f for f in df.schema.fields]
    schema_out = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields)
        + ", match_id bigint, matched_symbol string"
    )
    data_cols = [f.name for f in out_fields]

    def process_group(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_by, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        bools = [pdf[c].to_numpy() for c in sym_cols]
        ic = _build_ic(pdf, symbols, len(symbols), pl.iter_define,
                       order_by[0], pl.timer_service)
        bound = _horizon(pl.within, pdf, order_by[0])
        # scan accelerators: the bitmask regex finds the next match
        # start in C (same branch priority as the matcher — property-
        # tested); fallback is the first-set skip mask. Encode ONLY the
        # pattern symbols — the terminal_not flag is not an rx class.
        rx = pl.rx
        enc = _encode_bitmask_str(bools[: len(symbols)], n) if rx is not None else None
        can_start = (
            np.logical_or.reduce([np.asarray(bools[j], dtype=bool) for j in pl.first_idx])
            if rx is None and n
            else None
        )
        rows_idx, match_ids, matched_syms = [], [], []
        i, mid = 0, 0
        while i < n:
            if rx is not None:
                mm = rx.search(enc, i)
                if not mm:
                    break
                if mm.end() == mm.start():  # empty match: advance (as below)
                    i = mm.start() + 1
                    continue
                i = mm.start()
            elif not can_start[i]:
                i += 1
                continue
            hi = bound(i, n)
            if pl.skip_mode == "no_skip":
                for m in _candidates(pl, bools, i, hi, ic):
                    for pos, si in m:
                        rows_idx.append(pos)
                        match_ids.append(mid)
                        matched_syms.append(symbols[si])
                    mid += 1
                i += 1
                continue
            m = _first_match(pl, bools, i, hi, ic)
            if m:  # empty match advances
                for pos, si in m:
                    rows_idx.append(pos)
                    match_ids.append(mid)
                    matched_syms.append(symbols[si])
                i = _resume_pos(m, pl.skip_mode, pl.skip_sym, symbols)
                mid += 1
            else:
                i += 1
        out = pdf.iloc[rows_idx][data_cols].copy()
        out["match_id"] = pd.Series(match_ids, index=out.index, dtype="int64")
        out["matched_symbol"] = pd.Series(matched_syms, index=out.index)
        return out

    from reshape_on_flink_spark.session import (
        PYTHON_STAGE_TASK_BYTES,
        repartition_for_python_stage,
    )

    return (
        repartition_for_python_stage(
            flagged, list(partition_by), task_bytes=PYTHON_STAGE_TASK_BYTES
        )
        .groupBy(*partition_by)
        .applyInPandas(process_group, schema=schema_out)
    )


def match_recognize_multi(
    df: DataFrame,
    partition_by: str | list[str],
    order_by: str | list[str],
    plans: list[dict],
) -> DataFrame:
    """N match passes in ONE keyed shuffle — the one chunked batch scan.

    Motivation (BASELINE.md round-13 pass-count profile): the timeout
    side output's prefix plans each ran a full ``match_recognize`` pass
    — repartition + sort + the pandas scan — over the SAME base
    relation, and the G-plan family was measured scan-DOMINATED
    (q_cep_timeout_group_opt: 5 passes, ~0.72 estimated scan share).
    This runs every plan inside one ``repartition(keys) +
    sortWithinPartitions + mapInPandas`` stage, tagging output rows
    with ``__plan``, so the base computation, shuffle, sort and Arrow
    transfer are paid once regardless of plan count. At cluster scale
    the saving compounds: one wide shuffle of the event relation
    instead of one per parked-branch shape. ``match_recognize``'s
    chunked harness is this scan with one plan.

    Each plan dict: ``pattern`` (string), ``define`` (symbol ->
    Catalyst Column), ``tag`` (the ``__plan`` value), ``user_syms``
    (symbols kept in the output — ``flat_select``'s filter, applied at
    emission time; omitted = every symbol), plus optional
    ``after_match`` (default ``no_skip``) / ``within`` /
    ``terminal_not`` / ``iter_define`` / ``filler_syms`` /
    ``fluid_links`` / ``greedy_spans`` / ``timer_service`` with
    :func:`match_recognize` semantics.

    Contract (pinned by ``test_cep_multi_pass_equals_singles`` and
    ``test_cep_multi_sequential_equals_single``): for every plan, the
    rows with ``__plan == tag`` equal the grouped reference harness
    ``match_recognize(df, keys, order, pattern, define, ...,
    impl="grouped")`` filtered to ``user_syms`` — the multi pass is a
    scheduling change only.

    Scan: the keys of one Arrow chunk are joined into ONE bitmask
    string with a zero-bitmask separator char (it matches no symbol
    class, so a match can never cross a key), and the matcher is
    bounded to each key's end row. String position of row r in key g is
    r + g (one separator per earlier key).
    """
    partition_by = (
        [partition_by] if isinstance(partition_by, str) else list(partition_by)
    )
    order_by = [order_by] if isinstance(order_by, str) else list(order_by)

    compiled = []
    flag_cols: list = []  # (name, Column) — appended in ONE select below
    for j, p in enumerate(plans):
        pl, flags = _compile_plan(**p)
        sym_cols = [f"__p{j}_{s}" for s in pl.flag_syms]
        flag_cols.extend(zip(sym_cols, flags))
        # per-plan rename so _IterCtx row dicts expose the __sym_{name}
        # static flags the compiler's iterative filler lambdas read
        # (e.get(f"__sym_{name}", True))
        ren = {c: f"__sym_{s}" for s, c in zip(pl.flag_syms, sym_cols)}
        compiled.append((pl, sym_cols, ren))

    # ONE select instead of one withColumn per symbol per plan: each
    # withColumn rebuilds (and re-analyzes) the whole logical plan, so a
    # 5-plan x 6-symbol timeout family paid ~30 plan rebuilds of driver
    # wall per query build (guide §7.3 — measured: q_cep_timeout_group_*
    # spent 1.4-3.8 s, ~half the query, in DataFrame construction).
    flagged = df.select("*", *[col.alias(c) for c, col in flag_cols])

    out_fields = list(df.schema.fields)
    data_cols = [f.name for f in out_fields]
    schema_out = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields)
        + ", match_id bigint, matched_symbol string, __plan string"
    )

    def scan_plan(pl: _MatchPlan, sym_cols, ren, pdf, starts, ends):
        """Rows of ``pl``'s matches over the complete keys of one
        (already key-sorted) chunk, or None."""
        import pandas as pd

        n, G = len(pdf), len(starts)
        symbols, user_idx = pl.symbols, pl.user_idx
        bools = [pdf[c].to_numpy() for c in sym_cols]
        ic = (
            _build_ic(pdf.rename(columns=ren), symbols, len(symbols),
                      pl.iter_define, order_by[0], pl.timer_service)
            if pl.iter_define else None
        )
        bound = _horizon(pl.within, pdf, order_by[0])
        rows_idx: list = []
        match_ids: list = []
        matched_syms: list = []
        mids = np.zeros(G, dtype=np.int64)

        def emit(m, g: int) -> None:
            for pos, si in m:
                if si in user_idx:
                    rows_idx.append(pos)
                    match_ids.append(int(mids[g]))
                    matched_syms.append(symbols[si])
            mids[g] += 1

        def at(r: int, g: int) -> int:
            """Emit the match(es) starting at row r of key g; -> the row
            the scan resumes at."""
            hi = bound(r, int(ends[g]))
            if pl.skip_mode == "no_skip":
                for m in _candidates(pl, bools, r, hi, ic):
                    emit(m, g)
                return r + 1
            m = _first_match(pl, bools, r, hi, ic)
            if not m:  # key-bound mismatch or WITHIN clamp
                return r + 1
            emit(m, g)
            return _resume_pos(m, pl.skip_mode, pl.skip_sym, symbols)

        if pl.rx is not None:
            acc = np.zeros(n, dtype=np.int32)
            for b, col in enumerate(bools[: len(symbols)]):  # tn flag is no rx class
                acc += np.asarray(col, dtype=np.int32) << b
            acc += _RX_BASE
            s_all = "".join(map(chr, acc.tolist()))
            sep = chr(_RX_BASE)  # bitmask 0: in no symbol class
            enc = sep.join(s_all[s:e] for s, e in zip(starts.tolist(), ends.tolist()))
            group_strstart = starts + np.arange(G)
            i, L = 0, len(enc)
            while i < L:
                mm = pl.rx.search(enc, i)
                if not mm:
                    break
                if mm.end() == mm.start():  # empty match: advance
                    i = mm.start() + 1
                    continue
                sp = mm.start()
                g = int(np.searchsorted(group_strstart, sp, side="right") - 1)
                i = at(sp - g, g) + g
        else:  # >12 symbols: per-key first-set cursor
            can_start = np.logical_or.reduce(
                [np.asarray(bools[j], dtype=bool) for j in pl.first_idx]
            )
            for g in range(G):
                r, e = int(starts[g]), int(ends[g])
                while r < e:
                    r = at(r, g) if can_start[r] else r + 1
        if not rows_idx:
            return None
        out = pdf.iloc[rows_idx][data_cols].copy()
        out["match_id"] = pd.Series(match_ids, index=out.index, dtype="int64")
        out["matched_symbol"] = pd.Series(matched_syms, index=out.index)
        out["__plan"] = pl.tag
        return out

    def scan_chunk(pdf, starts):
        import pandas as pd

        ends = np.append(starts[1:], len(pdf))
        frames = [scan_plan(*c, pdf, starts, ends) for c in compiled]
        frames = [f for f in frames if f is not None]
        return pd.concat(frames, ignore_index=True) if frames else None

    part_cols = list(partition_by)

    def run_chunks(batches):
        import pandas as pd

        carry = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            else:
                pdf = pdf.reset_index(drop=True)
            keys = pdf[part_cols]
            shifted = keys.shift()
            # null-aware boundary: NaN != NaN is True, so a plain != would
            # split a run of null-keyed rows into per-row groups — grouped
            # mode (Spark groupBy) treats null as one key, match it
            boundary = (
                ((keys != shifted) & ~(keys.isna() & shifted.isna()))
                .any(axis=1)
                .to_numpy()
            )
            boundary[0] = True
            starts = np.flatnonzero(boundary)
            # the last key may continue into the next Arrow batch: carry it
            last_start = int(starts[-1])
            carry = pdf.iloc[last_start:]
            if last_start == 0:
                continue
            out = scan_chunk(pdf.iloc[:last_start], starts[:-1])
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = scan_chunk(carry.reset_index(drop=True), np.array([0]))
            if out is not None:
                yield out

    # keys are hash-partitioned and made contiguous + ordered within
    # partitions, so no per-key pandas sort is needed; memory is bounded
    # by one Arrow batch + the largest single key's rows (the carry)
    from reshape_on_flink_spark.session import (
        PYTHON_STAGE_TASK_BYTES,
        repartition_for_python_stage,
    )

    sorted_df = repartition_for_python_stage(
        flagged, part_cols, task_bytes=PYTHON_STAGE_TASK_BYTES
    ).sortWithinPartitions(*part_cols, *order_by)
    return sorted_df.mapInPandas(run_chunks, schema=schema_out)


# ---------------------------------------------------------------------------
# Streaming MATCH_RECOGNIZE — incremental NFA across micro-batches.
# Reference: CepOperator.java keeps partial NFA computations in keyed
# state and only emits a greedy match once a subsequent element proves it
# cannot extend; this operator reproduces that closure rule.
# ---------------------------------------------------------------------------

_NEED_MORE = object()  # matcher verdict: undecided until more rows arrive


def _matcher_modes(symbols: list[str], toks: list[tuple[str | tuple[str, ...], str]]):
    """Like _matcher, but end-of-data is a distinct verdict: returns a
    match (list), None (provably no match at this start, regardless of
    future rows), or _NEED_MORE (a higher-or-equal-priority branch ran
    out of rows — the greedy NFA cannot commit yet)."""
    toks_i, cols_for, label_at = _token_cols(symbols, toks)

    def match_at(bools, start: int, n: int, ic=None):
        if ic is not None:  # iterative conditions route through the AST matchers
            raise ValueError("the flat matcher does not evaluate iterative conditions")
        cols = cols_for(bools)

        def lab(ti: int, pos: int) -> int:
            idxs = toks_i[ti][0]
            return idxs[0] if len(idxs) == 1 else label_at(bools, ti, pos)

        def rec(ti: int, pos: int):
            if ti == len(toks_i):
                return []
            _, q = toks_i[ti]
            col = cols[ti]
            if q == "":
                if pos >= n:
                    return _NEED_MORE
                if col[pos]:
                    rest = rec(ti + 1, pos + 1)
                    if rest is _NEED_MORE or rest is not None:
                        return rest if rest is _NEED_MORE else [(pos, lab(ti, pos)), *rest]
                return None
            if q == "?":
                if pos >= n:
                    return _NEED_MORE  # greedy branch would consume a future row
                if col[pos]:
                    rest = rec(ti + 1, pos + 1)
                    if rest is _NEED_MORE:
                        return _NEED_MORE
                    if rest is not None:
                        return [(pos, lab(ti, pos)), *rest]
                return rec(ti + 1, pos)
            if q == "??":  # reluctant optional: skip branch first
                rest = rec(ti + 1, pos)
                if rest is _NEED_MORE or rest is not None:
                    return rest
                if pos >= n:
                    return _NEED_MORE
                if col[pos]:
                    rest = rec(ti + 1, pos + 1)
                    if rest is _NEED_MORE:
                        return _NEED_MORE
                    if rest is not None:
                        return [(pos, lab(ti, pos)), *rest]
                return None
            min_k = 1 if q[0] == "+" else 0
            if q.endswith("?"):  # reluctant + / * : smallest run first;
                # a found match is final (future rows cannot shrink it)
                for j in range(min_k):
                    if pos + j >= n:
                        return _NEED_MORE
                    if not col[pos + j]:
                        return None
                k = min_k
                while True:
                    rest = rec(ti + 1, pos + k)
                    if rest is _NEED_MORE:
                        return _NEED_MORE
                    if rest is not None:
                        return [(pos + j, lab(ti, pos + j)) for j in range(k)] + [*rest]
                    if pos + k >= n:
                        return _NEED_MORE
                    if not col[pos + k]:
                        return None
                    k += 1
            # + / * : greedy, highest k first; a run touching the end of
            # data could extend with future rows -> undecided
            k = 0
            while pos + k < n and col[pos + k]:
                k += 1
            if pos + k >= n:
                return _NEED_MORE
            while k >= min_k:
                rest = rec(ti + 1, pos + k)
                if rest is _NEED_MORE:
                    return _NEED_MORE
                if rest is not None:
                    return [(pos + j, lab(ti, pos + j)) for j in range(k)] + [*rest]
                k -= 1
            return None

        return rec(0, start)

    return match_at


def _measure_final_and_running(g, fn: str, sym: str | None, col: str):
    """Per-match measure series (RUNNING) and scalar (FINAL) in pandas,
    mirroring the batch Catalyst frames (table_env: running = rows
    unbounded-preceding..current, final = whole match). ``g`` is ONE
    match's rows in pattern order with a 0..n-1 RangeIndex."""
    import numpy as np
    import pandas as pd

    cond = (
        g["matched_symbol"] == sym if sym is not None else pd.Series(True, index=g.index)
    )
    if col == "*":  # COUNT(*) over cond rows
        run = cond.cumsum().astype("int64")
        return run, int(cond.sum())
    s = g[col].where(cond)
    valid = s.notna()
    seen = valid.cummax()
    if fn == "COUNT":
        run = valid.cumsum().astype("int64")
        return run, int(valid.sum())
    if fn == "SUM":
        run = s.fillna(0).cumsum().where(seen)
    elif fn == "MIN":
        run = s.cummin().ffill()  # cummin leaves NaN at masked rows; the
        # batch running frame ignores nulls and carries the min-so-far
    elif fn == "MAX":
        run = s.cummax().ffill()
    elif fn == "AVG":
        run = s.fillna(0).cumsum().where(seen) / valid.cumsum()
    elif fn == "FIRST":
        fi = s.first_valid_index()
        run = pd.Series([None] * len(g), index=g.index, dtype=s.dtype if valid.any() else object)
        if fi is not None:
            run.iloc[fi:] = s.iloc[fi]
    elif fn == "LAST":
        run = s.ffill()
    else:  # pragma: no cover - parse layer rejects earlier
        raise NotImplementedError(fn)
    final = run.iloc[-1] if len(run) else np.nan
    return run, final


def streaming_match_recognize(
    events: DataFrame,
    partition_by: str | list[str],
    order_cols: list[str],
    pattern: str,
    define: dict,
    input_cols: list[str],
    max_pending: int = 10_000,
    context_rows: int = 1,
    after_match: str = "past_last_row",
    measures: list | None = None,
    one_row: bool = False,
    within: str | float | None = None,
    terminal_not: str | None = None,
    iter_define: dict | None = None,
    filler_syms: list[str] | None = None,
    fluid_links: list | None = None,
    greedy_spans: list | None = None,
    timer_service=None,
) -> DataFrame:
    """MATCH_RECOGNIZE over a streaming DataFrame (applyInPandasWithState).

    ``fluid_links``: two-path iteration-link specs for group loops with
    OPTIONAL tail leaves (:func:`_fluid_ok`) — forces the enumerate+
    filter route, same contract as the batch operator.

    ``iter_define``: per-symbol ITERATIVE conditions ``fn(event, ctx) ->
    bool`` over the branch's partial match — same contract as the batch
    operator (see :func:`match_recognize`). Evaluated against the key's
    buffered history, so ``ctx.pos``-relative PREV lookups cross
    micro-batch boundaries exactly like the pandas predicates.

    ``terminal_not``: terminal ``notFollowedBy`` under ``within`` — same
    contract as the batch operator. Streaming decidability: a surviving
    match is emitted only once its WITHIN horizon has closed inside the
    buffer (a NOT-row could still arrive while the window is open), the
    same timeout-then-emit rule as Flink's NFA for notFollowedBy ends
    (Pattern.java:304); force-close (overflow / end-of-data re-scan)
    applies batch semantics (no further rows = no NOT-row).

    ``within``: Flink's time-bounded pattern (PATTERN ... WITHIN /
    CEP ``Pattern.within``) — a match must complete strictly inside the
    bound measured on the first order column from its first row. Beyond
    filtering, WITHIN also RELEASES state: a partial match whose window
    has closed (later-timestamped rows exist in the buffer) is decided
    immediately instead of staying pending, so per-key state is bounded
    by the window horizon even for never-completing starts.

    ``define`` maps symbols to *vectorized pandas predicates*
    ``(pdf) -> bool array`` — evaluated over the key's full pending
    history, so ``pdf[col].diff()`` implements Flink's ``PREV`` across
    micro-batch boundaries (a Catalyst ``lag`` would reset per batch;
    streaming window functions don't exist in Spark).

    ``after_match``: every AFTER MATCH SKIP strategy of the batch
    operator — ``past_last_row`` (default), ``to_next_row``,
    ``to_first SYM`` / ``to_last SYM`` — with the reference NFA's
    semantics incl. the infinite-loop guard (NFA.java's
    SkipToFirst/LastStrategy). Overlapping strategies re-scan rows that
    already belong to an emitted match; those rows stay in keyed state
    until every start position through them is decided, so matches are
    emitted in start order and stream == batch on every strategy.

    Emission rule (= CepOperator's): a greedy match is emitted only once
    a later row proves it cannot extend; a match still touching the end
    of the buffered history stays pending. ``max_pending`` bounds state:
    on overflow the oldest history is force-closed with batch semantics
    (end-of-data = no extension) and the buffer drained — documented
    divergence, loud in logs at the moment it triggers.

    100 TB: one shuffle on the key; state per key = the undecided suffix
    only (closed prefixes are dropped every batch).

    ``measures`` (optional): parsed MEASURES descriptors
    ``(kind, (fn, sym, col) | None, alias, mode)`` with kind in
    match_number/classifier/agg and mode running/final — computed in
    pandas per COMPLETED match (a match is only ever emitted whole, so
    RUNNING/FINAL frames are fully determined at emission; semantics
    mirror the batch Catalyst window frames). ``one_row=True`` emits
    Flink's ONE ROW PER MATCH: partition cols + measures, FINAL
    semantics. Type note (documented divergence): numeric SUM/AVG
    measures are emitted as DOUBLE on the streaming route.
    """
    import pickle

    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    part_cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)

    if _is_flat(pattern):
        toks = parse_pattern(pattern)
        symbols = pattern_symbols(toks)
        ast = _flat_to_ast(toks)
        if iter_define:  # per-branch evaluation -> AST matchers only
            match_at = _ast_matcher(symbols, ast, modes=True)
            match_closed = _ast_matcher(symbols, ast)
        else:
            match_at = _matcher_modes(symbols, toks)
            match_closed = _matcher(symbols, toks)
        first_idx = _first_idx_flat(symbols, toks)
    else:  # nested groups / bounded quantifiers -> generic AST matcher
        ast = parse_pattern_ast(pattern)
        symbols = ast_symbols(ast)
        match_at = _ast_matcher(symbols, ast, modes=True)
        match_closed = _ast_matcher(symbols, ast)
        first_idx = _first_idx_ast(symbols, ast)
    if iter_define:
        unknown = [s for s in iter_define if s not in symbols]
        if unknown:
            raise ValueError(f"iter_define for symbols not in the pattern: {unknown}")

        def _true_pd(pdf):
            import pandas as pd

            return pd.Series(True, index=pdf.index)

        define = {**{s: _true_pd for s in iter_define if s not in define}, **define}
    missing = [s for s in symbols if s not in define]
    if missing:
        raise ValueError(f"pattern symbols without DEFINE: {missing}")
    skip_mode, skip_sym = _parse_after_match(after_match, symbols)
    if terminal_not is not None:
        if within is None:
            raise ValueError(
                "terminal_not requires a within bound (Flink allows "
                "terminal notFollowedBy only with within, Pattern.java:304)"
            )
        if terminal_not in symbols:
            raise ValueError(
                f"terminal_not symbol {terminal_not!r} also appears in the pattern"
            )
        if terminal_not not in define:
            raise ValueError(f"terminal_not symbol {terminal_not!r} has no DEFINE")
    filler_idx = frozenset(
        symbols.index(s) for s in (filler_syms or ()) if s in symbols
    )
    use_enum = (
        skip_mode == "no_skip" or terminal_not is not None
        or bool(fluid_links) or bool(greedy_spans)
    )
    fl_idx = (
        _fluid_index(symbols) if (fluid_links or greedy_spans) else None
    )
    if use_enum:  # enumerate expansions per start, advance by one
        match_at = _ast_enumerator(symbols, ast, modes=True)
        enum_closed = _ast_enumerator(symbols, ast)
    else:
        enum_closed = None

    sample = events.select(*input_cols)
    field_of = {f.name: f for f in sample.schema.fields}

    def _measure_field(kind: str, spec, alias: str) -> StructField:
        if kind == "match_number":
            return StructField(alias, LongType())
        if kind == "classifier":
            return StructField(alias, StringType())
        if kind == "expr":
            # expression measures evaluate in pandas arithmetic ->
            # numeric only on the streaming route (DOUBLE), mirroring
            # the SUM/AVG type note below
            return StructField(alias, DoubleType())
        fn, _sym, col = spec
        if fn == "COUNT":
            return StructField(alias, LongType())
        if fn in ("SUM", "AVG"):
            return StructField(alias, DoubleType())
        return StructField(alias, field_of[col].dataType)

    if measures is not None:
        measure_fields = [_measure_field(k, sp, al) for k, sp, al, _m in measures]
        if one_row:
            out_schema = StructType([field_of[c] for c in part_cols] + measure_fields)
        else:
            out_schema = StructType([*sample.schema.fields, *measure_fields])
    else:
        out_schema = StructType(
            [*sample.schema.fields,
             StructField("match_id", LongType()),
             StructField("matched_symbol", StringType())]
        )
    state_schema = StructType(
        [
            StructField("pending", BinaryType()),
            StructField("next_match_id", LongType()),
            StructField("n_context", LongType()),
        ]
    )

    def run(key, pdfs, state):
        import pandas as pd

        if state.exists:
            blob, next_id, ctx = state.get
            pending = pickle.loads(blob)
        else:
            pending, next_id, ctx = None, 0, 0
        new = pd.concat(list(pdfs), ignore_index=True)[input_cols]
        pdf = (
            pd.concat([pending, new], ignore_index=True)
            if pending is not None
            else new
        ).sort_values(order_cols, kind="mergesort").reset_index(drop=True)

        out_frames = []

        def scan(frame, allow_open: bool, start: int = 0):
            nonlocal next_id
            bools = [define[s](frame).to_numpy() for s in symbols]
            if iter_define:
                # event dicts carry the static flags (an iterative filler
                # reads its loop body's static verdict off the row)
                fr2 = frame.copy()
                for s_name, arr in zip(symbols, bools):
                    fr2[f"__sym_{s_name}"] = np.asarray(arr, dtype=bool)
                ic = _build_ic(fr2, symbols, len(symbols), iter_define,
                               order_cols[0] if order_cols else None,
                               timer_service)
            else:
                ic = None
            tnb = (
                np.asarray(define[terminal_not](frame).to_numpy(), dtype=bool)
                if terminal_not is not None
                else None
            )
            n = len(frame)
            if within is not None and n:
                tv, is_time = _time_axis(frame, order_cols[0])
                delta = _within_delta(within, is_time)

                def bound(i: int) -> int:
                    return min(n, i + int(np.searchsorted(tv[i:], tv[i] + delta, side="left")))
            else:
                bound = lambda i: n  # noqa: E731
            can_start = (
                np.logical_or.reduce([np.asarray(bools[j], dtype=bool) for j in first_idx])
                if n
                else None
            )
            pos_list, mid_list, sym_list = [], [], []

            def emit_one(one):
                nonlocal next_id
                for pos, si in one:
                    pos_list.append(pos)
                    mid_list.append(next_id)
                    sym_list.append(symbols[si])
                next_id += 1

            def survivors(cands, hi):
                # terminal_not: drop expansions with a NOT-row in
                # (last_row, horizon) — region fully inside seen data
                if terminal_not is None:
                    return cands
                return [mm for mm in cands if not tnb[mm[-1][0] + 1 : hi].any()]

            def emit_enum(cands):
                """Emit a decided enumeration per the skip mode; return
                the next scan position from `i`."""
                if fluid_links:
                    cands = [
                        mm for mm in cands
                        if _fluid_ok(mm, bools, fl_idx, fluid_links)
                    ]
                if greedy_spans:
                    cands = [
                        mm for mm in cands
                        if _greedy_ok(mm, bools, fl_idx, greedy_spans,
                                      filler_idx)
                    ]
                if filler_idx:  # drop filler-anchored candidates (see batch)
                    cands = [mm for mm in cands if mm[0][1] not in filler_idx]
                    # Flink match identity = the variable->events
                    # assignment: candidates differing only in FILLER
                    # rows are one match (interchangeable gap splits
                    # around absent optional stages) -> dedup on the
                    # user-row projection
                    seen_u, uniq = set(), []
                    for mm_ in cands:
                        ku = tuple(r for r in mm_ if r[1] not in filler_idx)
                        if ku not in seen_u:
                            seen_u.add(ku)
                            uniq.append(mm_)
                    cands = uniq
                if skip_mode == "no_skip":
                    for one in cands:
                        emit_one(one)
                    return i + 1
                if cands:  # single-match: first-completed survivor
                    mm = min(cands, key=lambda c: (len(c), [p for p, _ in c]))
                    emit_one(mm)
                    return _resume_pos(mm, skip_mode, skip_sym, symbols)
                return i + 1

            i = start
            while i < n:
                if not can_start[i]:
                    i += 1
                    continue
                hi = bound(i)
                m = match_at(bools, i, hi, ic)
                if m is _NEED_MORE:
                    # end-of-window (hi < n) is FINAL — batch emits
                    # exactly this bounded result; end-of-data is final
                    # only when force-closing (allow_open=False)
                    if hi >= n and allow_open:
                        break  # keep frame[i:] pending
                    closed_hi = min(hi, n)
                    if use_enum:
                        i = emit_enum(
                            survivors(enum_closed(bools, i, closed_hi, ic), closed_hi)
                        )
                        continue
                    m2 = match_closed(bools, i, closed_hi, ic)
                    if m2 and filler_idx and m2[0][1] in filler_idx:
                        m2 = None  # filler-anchored: re-found later
                    if m2:
                        emit_one(m2)
                        i = _resume_pos(m2, skip_mode, skip_sym, symbols)
                    else:
                        i += 1
                    continue
                # the matcher decided on seen data
                if terminal_not is not None and hi >= n:
                    # NOT-window still open: a NOT-row may yet arrive
                    if allow_open:
                        break  # keep frame[i:] pending
                    hi = n  # force-close: no further rows = no NOT-row
                if use_enum:
                    i = emit_enum(survivors(m, hi))
                elif m and filler_idx and m[0][1] in filler_idx:
                    i += 1  # filler-anchored: re-found at its first real row
                elif m:
                    emit_one(m)
                    i = _resume_pos(m, skip_mode, skip_sym, symbols)
                else:
                    i += 1
            else:
                i = n
            if pos_list:
                part = frame.iloc[pos_list].copy()
                part["match_id"] = pd.Series(mid_list, index=part.index, dtype="int64")
                part["matched_symbol"] = pd.Series(sym_list, index=part.index, dtype="object")
                out_frames.append(part)
            return i

        # rows [0, ctx) are PREV-context only — already matched or
        # released last batch; they feed diff()-style predicates, never
        # matches
        keep_from = scan(pdf, allow_open=True, start=ctx)
        if len(pdf) - keep_from > max_pending:
            import sys

            print(
                f"streaming_match_recognize: key {key} pending exceeded "
                f"{max_pending}; force-closing with batch semantics",
                file=sys.stderr,
            )
            # re-scan the overflow region without the open-match privilege
            overflow = pdf.iloc[keep_from:].reset_index(drop=True)
            scan(overflow, allow_open=False)
            keep_from = len(pdf)

        new_ctx = min(context_rows, keep_from)
        kept = pdf.iloc[keep_from - new_ctx :].reset_index(drop=True)
        state.update(
            (pickle.dumps(kept if len(kept) else None), next_id, new_ctx)
        )

        if out_frames:
            matched_rows = pd.concat(out_frames, ignore_index=True)
        else:
            matched_rows = pdf.iloc[0:0].copy()
            matched_rows["match_id"] = pd.Series([], dtype="int64")
            matched_rows["matched_symbol"] = pd.Series([], dtype="object")

        if measures is None:
            yield matched_rows
            return

        aliases = [al for _k, _sp, al, _m in measures]
        pieces = []
        for mid, g in matched_rows.groupby("match_id", sort=True):
            g = g.reset_index(drop=True)
            def _expr_eval(spec, running: bool):
                """Evaluate an expression measure: atoms -> running
                series / final scalars, then plain pandas arithmetic
                (the parse layer admits only + - * / and literals)."""
                tmpl, atoms = spec
                env = {}
                for ai, (fn, sym, col, a_mode) in enumerate(atoms):
                    if fn == "MATCH_NUMBER":
                        env[f"__m{ai}"] = int(mid) + 1
                    else:
                        run_s, fin = _measure_final_and_running(g, fn, sym, col)
                        env[f"__m{ai}"] = (
                            run_s if (running and a_mode == "running") else fin
                        )
                return eval(  # noqa: S307 - template validated at parse
                    compile(tmpl, "<measure-expr>", "eval"),
                    {"__builtins__": {}},
                    env,
                )

            if one_row:
                row = {c: g[c].iloc[0] for c in part_cols}
                for kind, spec, alias, _mode in measures:
                    if kind == "match_number":
                        row[alias] = int(mid) + 1
                    elif kind == "expr":
                        row[alias] = _expr_eval(spec, running=False)
                    else:  # agg, FINAL semantics (parse layer rejects classifier)
                        row[alias] = _measure_final_and_running(g, *spec)[1]
                pieces.append(row)
            else:
                for kind, spec, alias, mode in measures:
                    if kind == "match_number":
                        g[alias] = int(mid) + 1
                    elif kind == "classifier":
                        g[alias] = g["matched_symbol"]
                    elif kind == "expr":
                        g[alias] = _expr_eval(spec, running=True)
                    else:
                        run_s, fin = _measure_final_and_running(g, *spec)
                        g[alias] = run_s if mode == "running" else fin
                pieces.append(g[input_cols + aliases])
        if one_row:
            out_pdf = pd.DataFrame(pieces, columns=[*part_cols, *aliases])
        elif pieces:
            out_pdf = pd.concat(pieces, ignore_index=True)
        else:
            out_pdf = pd.DataFrame(columns=[*input_cols, *aliases])
        for f in out_schema.fields:  # pin numeric dtypes for Arrow
            if f.name in aliases and len(out_pdf):
                if str(f.dataType) == "DoubleType()":
                    out_pdf[f.name] = out_pdf[f.name].astype("float64")
                elif str(f.dataType) == "LongType()":
                    out_pdf[f.name] = out_pdf[f.name].astype("int64")
        yield out_pdf

    return (
        sample.groupBy(*part_cols)
        .applyInPandasWithState(run, out_schema, state_schema, "append", "NoTimeout")
    )


def streaming_timed_out_partials(
    events: DataFrame,
    partition_by,
    order_cols,
    input_cols: list[str],
    plans: list[dict],
    delta: float,
    is_time: bool,
    skip: dict | None = None,
) -> DataFrame:
    """Streaming side of ``PatternStream.timed_out_partial_matches()``
    — Flink's timed-out partial-match side output on an unbounded
    stream (CepOperator advances the NFA per watermark and routes the
    pruned partials to the timeout tag; PatternStream.java:202-214).

    Horizon-close emission (the same timeout-then-emit rule as the
    terminal_not path): a start row is DECIDED exactly once, when the
    key has buffered a row at/after ``start + within`` — the
    event-driven ``NFA.advanceTime`` witness. The decided slice is then
    enumerated with the SAME ``_ast_enumerator`` the batch no_skip
    engine uses (one compiled prefix pattern per parked shape, built by
    the fluent wrapper), and survival is a numpy scan over the buffered
    gap ``(last take, horizon)``: primary parked branch per its ignore
    condition ('consume' = NOT(take) guard, 'any' = no ignore edge,
    'persist' = true ignore) OR any 'IGNORE after PROCEED' migrated
    copy (NFA.java:621-633), gated on the loop minimum where the inner
    states have no PROCEED edge. Identical user-row sets collapse to
    one emitted partial — same contract as the batch route.

    ``plans``: one dict per parked shape — ``pat`` (compiled pattern
    string incl. gap fillers), ``define`` (pandas predicates per
    symbol), ``user_syms``, ``tag``, ``primary``/``copies`` survival
    specs carrying pandas take-predicates, ``gate`` = (loop_sym, lo).

    ``skip`` (round 11): AfterMatchSkipStrategy support — ``None`` =
    no_skip (every partial reported); else a dict with ``mode``
    ('past_last_row' | 'to_next_row'), ``pat``/``define``/``user_syms``
    for the FULL pattern compiled ``emit='first'``. The operator then
    runs the sequential matcher incrementally over the decided region
    (keyed-state cursor = the AFTER MATCH SKIP resume position) and
    replays the reference emission loop (NFA.java:396-436): a match's
    emission lands at the first buffered event reaching max(completion
    tick, previous emission, horizons of earlier reported-timeout
    starts — the start-ordered queue's gating), and a decided start's
    partials are PRUNED (dropped, not reported) iff some emission with
    pruningId >= the start's rid precedes the start's horizon. All
    emission witnesses lie inside the 1x-``within`` buffer (completion
    <= start + within <= frontier + within = max buffered tick), so
    state stays bounded: the undecided suffix + the match cursor +
    open-horizon gate/emission summaries.

    100 TB: one shuffle on the key; per-key state is the undecided
    suffix only (rows with ``tick > max_tick - within``), so state is
    bounded by the window horizon regardless of stream length. In-order
    caveat (same as ``streaming_match_recognize``): per-key event-time
    ordered arrival — a late row below an already-decided horizon
    cannot retro-create or kill branches.

    Output: input columns + ``matched_symbol``/``timeout_id``/
    ``timeout_ts`` — the batch side output's schema (ids differ; the
    stream==batch tests compare (event-set, timeout_ts) sets).
    """
    import pickle

    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    part_cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    order_cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    ocol = order_cols[0]

    compiled = []
    for pl in plans:
        ast = parse_pattern_ast(pl["pat"])
        symbols = ast_symbols(ast)
        missing = [s for s in symbols if s not in pl["define"]]
        if missing:
            raise ValueError(f"timeout prefix symbols without DEFINE: {missing}")
        compiled.append((symbols, _ast_enumerator(symbols, ast), pl))

    skip_compiled = None
    if skip is not None:
        if skip["mode"] not in (
            "past_last_row", "to_next_row", "to_first", "to_last"
        ):
            raise NotImplementedError(
                f"streaming timeout skip mode {skip['mode']!r} is unknown"
            )
        f_ast = parse_pattern_ast(skip["pat"])
        f_syms = ast_symbols(f_ast)
        missing = [s for s in f_syms if s not in skip["define"]]
        if missing:
            raise ValueError(f"skip full-pattern symbols without DEFINE: {missing}")
        f_user = set(skip["user_syms"])
        f_fluid = skip.get("fluid")
        f_greedy = skip.get("greedy")
        skip_compiled = (
            f_syms,
            # a FLUID full pattern (optional-tail group loop) or a
            # greedy sink guard needs the enumerate+filter route: the
            # sequential matcher's single candidate may be an
            # over-admitted link expansion / a guarded jump
            _ast_enumerator(f_syms, f_ast) if (f_fluid or f_greedy)
            else _ast_matcher(f_syms, f_ast),
            frozenset(j for j, s in enumerate(f_syms) if s not in f_user),
            skip["mode"],
            skip.get("sym"),
            skip.get("tn"),
            f_fluid,
            _fluid_index(f_syms) if (f_fluid or f_greedy) else None,
            f_greedy,
            # round 14: the cursor threads IterativeCondition contexts
            skip.get("iter_define"),
        )

    sample = events.select(*input_cols)
    out_schema = StructType(
        [
            *sample.schema.fields,
            StructField("matched_symbol", StringType()),
            StructField("timeout_id", StringType()),
            StructField(
                "timeout_ts", TimestampType() if is_time else DoubleType()
            ),
        ]
    )
    state_schema = StructType(
        [
            StructField("pending", BinaryType()),
            StructField("frontier", DoubleType()),
            StructField("serial", LongType()),
        ]
    )

    def run(key, pdfs, state):
        import numpy as np
        import pandas as pd

        aux = None
        if state.exists:
            blob, frontier, serial = state.get
            st0 = pickle.loads(blob)
            skip_format = isinstance(st0, dict) and "pdf" in st0 and "aux" in st0
            if (skip_compiled is not None) != skip_format:
                raise ValueError(
                    "timeout state format mismatch: after_match changed "
                    "across restart (restored keyed state was written by "
                    f"a {'skip-enabled' if skip_format else 'no-skip'} "
                    "query, this query is "
                    f"{'no-skip' if skip_compiled is None else 'skip-enabled'})"
                    " — restart from a fresh checkpoint"
                )
            if skip_compiled is not None:
                pending, aux = st0["pdf"], st0["aux"]
            else:
                pending = st0
        else:
            pending, frontier, serial = None, float("-inf"), 0
        if skip_compiled is not None and aux is None:
            aux = {
                "rid_base": 0,
                "cursor": 0,
                "prev_emit": float("-inf"),
                "gates": [],      # (start_rid, horizon) of reported starts
                "emissions": [],  # (emit_tick, prune_rid)
            }
        new = pd.concat(list(pdfs), ignore_index=True)[input_cols]
        pdf = (
            pd.concat([pending, new], ignore_index=True)
            if pending is not None
            else new
        ).sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        if is_time:
            ticks = (
                pdf[ocol].astype("datetime64[us]").astype("int64").to_numpy()
            ).astype("float64")
        else:
            ticks = pdf[ocol].to_numpy().astype("float64")
        n = len(pdf)
        max_tick = float(ticks[-1]) if n else float("-inf")
        f_new = max_tick - delta  # starts at/below this tick are decided
        dec = np.nonzero((ticks > frontier) & (ticks <= f_new))[0]

        # phase 1: enumerate the surviving parked branches per decided
        # start (NFA ignore-condition survival — independent of skip
        # pruning), in plan-major order
        cands: list = []  # (tag, local start idx, horizon, rows)
        surv_starts: set = set()
        # start idx -> latest stop-edge death tick among its killed
        # branches: a branch killed mid-gap by until()/NOT gates later
        # matches' emissions until its kill event (it is live in the
        # reference's partialMatches until then), even though it never
        # reaches the timeout output itself
        dead_gates: dict = {}
        for symbols, enum_at, pl in compiled:
            if not len(dec):
                break
            bools = [
                np.asarray(pl["define"][s](pdf).to_numpy(), dtype=bool)
                for s in symbols
            ]
            user = set(pl["user_syms"])
            prim, copies, gate = pl["primary"], pl["copies"], pl["gate"]
            pl_ic = None
            if pl.get("iter_define"):
                # event dicts must carry the __sym static flags: the
                # compiler's iterative FILLER conditions read a sibling
                # symbol's static verdict off the row
                # (e.get(f"__sym_{name}", True)) — without the column
                # the permissive default drops the static part and a
                # statically-non-take-able row wrongly breaks loop gaps
                # (found round 14; the match operator's scan() already
                # does this)
                fr2 = pdf.copy()
                for s_name, arr in zip(symbols, bools):
                    fr2[f"__sym_{s_name}"] = np.asarray(arr, dtype=bool)
                pl_ic = _build_ic(
                    fr2, symbols, len(symbols), pl["iter_define"],
                    order_cols[0],
                )
            prim_it = prim[3] if len(prim) > 3 else None
            if prim[0] == "consume":
                prim_arr = (
                    np.asarray(prim[1](pdf).to_numpy(), dtype=bool)
                    if prim[1] is not None
                    else np.ones(n, dtype=bool)  # iterative-only static
                )
            else:
                prim_arr = None
            # iterative scans (round 13): evaluated per branch against
            # its own partial match — lazy per-batch records + context
            plan_has_iter = prim_it is not None or any(
                len(c) > 4 and c[4] is not None for c in copies
            )
            it_recs = it_ctx = None
            if plan_has_iter:
                it_recs = pdf.to_dict("records")
                it_ctx = _IterCtx(
                    it_recs,
                    [s[:-4] if s.endswith("__gq") else s for s in symbols],
                    order_cols[0],
                )

            def _first_take_it(arr, itfn, gap, taken):
                """First consuming take in the gap: static flag AND, for
                iterative scans, the IterativeCondition over THIS
                branch's taken rows."""
                nz = np.nonzero(arr[gap])[0]
                if not len(nz):
                    return None
                if itfn is None:
                    return gap.start + int(nz[0])
                it_ctx.taken = tuple(taken)
                for off in nz:
                    p2 = gap.start + int(off)
                    it_ctx.pos = p2
                    if itfn(it_recs[p2], it_ctx):
                        return p2
                return None

            def _karr(kls):
                return [
                    (fl, np.asarray(f(pdf).to_numpy(), dtype=bool))
                    for fl, f in kls
                ]

            def _killed(kls, gap):
                # 'gap' kill: any matching event in (last take, horizon);
                # 'adj' kill (not_next): the FIRST gap event matches —
                # the gap slice is horizon-bounded already
                for fl, ka in kls:
                    seg = ka[gap]
                    if fl == "gap":
                        if seg.any():
                            return True
                    elif len(seg) and seg[0]:
                        return True
                return False

            def _kill_pos(kls, gap):
                # earliest stop-edge position in the gap (absolute
                # index into pdf), or None — the tick where a killed
                # branch leaves the reference's partialMatches
                best = None
                for fl, ka in kls:
                    seg = ka[gap]
                    if fl == "gap":
                        nz = np.nonzero(seg)[0]
                        if len(nz):
                            pos = gap.start + int(nz[0])
                            best = pos if best is None else min(best, pos)
                    elif len(seg) and seg[0]:
                        best = gap.start if best is None else min(best, gap.start)
                return best

            def _first_take(arr, gap):
                nz = np.nonzero(arr[gap])[0]
                return gap.start + int(nz[0]) if len(nz) else None

            def _note_death(ii, kls, gap, take_arr, itfn=None, match=None):
                # record the branch's stop-edge death tick for the
                # emission-gate list: fires only if the kill precedes
                # the event that would otherwise consume the branch
                kp = _kill_pos(kls, gap)
                if kp is None:
                    return
                if take_arr is not None:
                    tk = (
                        _first_take_it(take_arr, itfn, gap, match)
                        if itfn is not None
                        else _first_take(take_arr, gap)
                    )
                    if tk is not None and tk < kp:
                        return
                t = float(ticks[kp])
                if t > dead_gates.get(ii, float("-inf")):
                    dead_gates[ii] = t

            prim_kills = _karr(prim[2]) if len(prim) > 2 else []
            pl_fluid = pl.get("fluid")
            pl_greedy = pl.get("greedy")
            pl_flidx = (
                _fluid_index(symbols) if (pl_fluid or pl_greedy) else None
            )
            pl_fillers = (
                frozenset(
                    i2 for i2, s2 in enumerate(symbols) if s2 not in user
                )
                if pl_greedy
                else frozenset()
            )
            sp_arrs = [
                (mode, gname, post,
                 np.asarray(f(pdf).to_numpy(), dtype=bool))
                for mode, gname, post, f in pl.get("spans", ())
            ]
            cp_arrs = [
                (
                    k2,
                    np.asarray(f2(pdf).to_numpy(), dtype=bool)
                    if f2 is not None
                    else (
                        np.ones(n, dtype=bool)
                        if k2 == "fb" and len(rest) > 2
                        and rest[2] is not None
                        else None
                    ),
                    _karr(rest[0]) if rest else [],
                    rest[1] if len(rest) > 1 else None,
                    rest[2] if len(rest) > 2 else None,
                )
                for k2, f2, *rest in copies
            ]
            for i in dec:
                h = float(ticks[i]) + delta
                lim = int(np.searchsorted(ticks, h, side="left"))
                seen: set = set()
                for match in enum_at(bools, int(i), lim, pl_ic):
                    if pl_fluid and not _fluid_ok(
                        match, bools, pl_flidx, pl_fluid
                    ):
                        continue
                    # greedy inner-loop sink guard (round 14, late):
                    # per-run span filter, same rule as the batch
                    # prefix enumerations
                    if pl_greedy and not _greedy_ok(
                        match, bools, pl_flidx, pl_greedy, pl_fillers
                    ):
                        continue
                    rows = sorted(
                        (pos, symbols[si])
                        for pos, si in match
                        if symbols[si] in user
                    )
                    if not rows:
                        continue
                    kset = frozenset(rows)
                    if kset in seen:  # filler splits of one partial
                        continue
                    seen.add(kset)
                    # interior-greedy span kills (round 12, late): the
                    # de-greedy'd prefix enumerates every expansion;
                    # drop those with a greedy-take-able event in
                    # (anchor, next taken row] — the sink guard. 'g'
                    # mode anchors on the last greedy row (zero-take
                    # exempt: unbounded optional loops guard only the
                    # loop's sink COPY); 'anchor' mode on the last
                    # pre-post row (bounded times guard the original)
                    bad = False
                    for mode, gname, post, sp in sp_arrs:
                        if mode == "g":
                            gp = [p2 for p2, s2 in rows if s2 == gname]
                            if not gp:
                                continue
                            anchor = gp[-1]
                        else:
                            anchor = max(
                                p2 for p2, s2 in rows if s2 not in post
                            )
                        nxt = min(p2 for p2, _s2 in rows if p2 > anchor)
                        if sp[anchor + 1 : nxt + 1].any():
                            bad = True
                            break
                    if bad:
                        continue
                    j = rows[-1][0]
                    gap = slice(j + 1, lim)
                    gap_any = lim > j + 1
                    if prim[0] == "persist":
                        alive = True
                    elif prim[0] == "any":
                        alive = not gap_any
                    elif prim_it is not None:
                        alive = (
                            _first_take_it(prim_arr, prim_it, gap, match)
                            is None
                        )
                    else:
                        alive = not prim_arr[gap].any()
                    if alive and prim_kills:
                        alive = not _killed(prim_kills, gap)
                    if skip_compiled is not None and prim_kills:
                        _note_death(
                            int(i), prim_kills, gap,
                            prim_arr if prim[0] == "consume" else None,
                            prim_it, match,
                        )
                    gated = True
                    cnt = 0
                    if gate is not None:
                        gsyms = (
                            gate[0]
                            if isinstance(gate[0], (tuple, list, set))
                            else (gate[0],)
                        )
                        cnt = sum(1 for _p, s2 in rows if s2 in gsyms)
                        if gate[1] is not None:
                            gated = cnt >= gate[1]
                        if len(gate) > 3 and gate[2] is not None:
                            # dual-counter gate (round 14, bounded
                            # inner loops): current-iteration loop
                            # takes must reach the inner minimum for
                            # PROCEED copies to exist
                            g2 = set(gate[2])
                            cnt2 = sum(
                                1 for _p, s2 in rows if s2 in g2
                            )
                            gated = gated and cnt2 >= gate[3]

                    def _cok(cg, _cnt=None):
                        # per-copy gate against the iteration count
                        if cg is None:
                            return True
                        c = cnt if _cnt is None else _cnt
                        return c >= cg[1] if cg[0] == "ge" else c < cg[1]

                    if not alive and cp_arrs and gap_any and gated:
                        for k2, arr, kls, cg, it2 in cp_arrs:
                            if (
                                _cok(cg)
                                and (
                                    k2 == "fba"
                                    or _first_take_it(arr, it2, gap, match)
                                    is None
                                )
                                and not _killed(kls, gap)
                            ):
                                alive = True
                                break
                    if skip_compiled is not None and gap_any and gated:
                        for k2, arr, kls, cg, it2 in cp_arrs:
                            if kls and _cok(cg):
                                _note_death(
                                    int(i), kls, gap,
                                    None if k2 == "fba" else arr,
                                    it2, match,
                                )
                    if not alive:
                        continue
                    cands.append((pl["tag"], int(i), h, rows))
                    surv_starts.add(int(i))

        # phase 2 (skip strategies): incremental sequential matcher +
        # emission replay + per-start prune verdicts. Only starts with
        # SURVIVING branches enter the gate list — a start whose
        # branches all die by consumption stops gating in the reference
        # too (its deferral never crosses a later start's horizon).
        pruned_starts: set = set()
        if skip_compiled is not None and n and len(dec):
            (f_syms, match_at, f_filler, mode, skip_sym, tn_pred,
             f_fluid, f_flidx, f_greedy, f_iter) = skip_compiled
            # SkipToElementStrategy prunes with STRICT < (vs <= for the
            # whole-match strategies) and resumes AT the mapped element
            # — the resume point is >= the match start >= frontier −
            # within, so the overlapping rescan stays inside the
            # horizon-bounded buffer
            strict = mode in ("to_first", "to_last")

            def _covers(s_rid, p):
                return s_rid < p if strict else s_rid <= p

            fbools = [
                np.asarray(skip["define"][s](pdf).to_numpy(), dtype=bool)
                for s in f_syms
            ]
            f_ic = None
            if f_iter:
                # IterativeCondition context for the full-pattern
                # cursor (round 14): event dicts carry the __sym
                # static flags like every other matcher route
                fr_f = pdf.copy()
                for s_name, arr in zip(f_syms, fbools):
                    fr_f[f"__sym_{s_name}"] = np.asarray(arr, dtype=bool)
                f_ic = _build_ic(
                    fr_f, f_syms, len(f_syms), f_iter, ocol
                )
            tn_arr = (
                np.asarray(tn_pred(pdf).to_numpy(), dtype=bool)
                if tn_pred is not None
                else None
            )
            # resume from the keyed cursor (the AFTER MATCH SKIP resume
            # position); a match starting at tick <= f_new has its
            # whole within-horizon buffered, so it is final. Rid
            # stability relies on the operator's in-order contract
            # (per-key event-time ordered arrival): new rows sort after
            # the pending suffix, so pending positions never shift.
            rid_base = aux["rid_base"]
            matches_new = []
            i = max(0, aux["cursor"] - rid_base)
            while i < n and ticks[i] <= f_new:
                lim = int(np.searchsorted(ticks, ticks[i] + delta, side="left"))
                if f_fluid or f_greedy:
                    fcands = [
                        mm for mm in match_at(fbools, int(i), lim, f_ic)
                        if mm[0][1] not in f_filler
                        and (not f_fluid
                             or _fluid_ok(mm, fbools, f_flidx, f_fluid))
                        and (not f_greedy
                             or _greedy_ok(mm, fbools, f_flidx, f_greedy,
                                           f_filler))
                        and (tn_arr is None
                             or not tn_arr[mm[-1][0] + 1 : lim].any())
                    ]
                    m = (
                        min(fcands,
                            key=lambda c: (len(c), [p for p, _s in c]))
                        if fcands
                        else None
                    )
                else:
                    m = match_at(fbools, int(i), lim, f_ic)
                    if m and m[0][1] in f_filler:
                        m = None  # filler-anchored: re-found at its row
                if m and tn_arr is not None and tn_arr[m[-1][0] + 1 : lim].any():
                    # terminal notFollowedBy: the PENDING sequence is
                    # killed by an N event in (last row, horizon) — no
                    # match, no resume, the next start still scans
                    m = None
                if m:
                    e_pos = m[-1][0]
                    if mode == "past_last_row":
                        prid, nxt = rid_base + e_pos, e_pos + 1
                    elif mode == "to_next_row":
                        prid, nxt = rid_base + m[0][0], i + 1
                    else:  # to_first / to_last SYM: resume AT the
                        # mapped element (raises the reference's
                        # infinite-loop / no-mapped-rows contract)
                        nxt = _resume_pos(m, mode, skip_sym, f_syms)
                        prid = rid_base + nxt
                    # a terminal-NOT pending completes AT its horizon
                    # (advanceTime turns it into a potential match)
                    e_tick = (
                        float(ticks[i]) + delta
                        if tn_arr is not None
                        else float(ticks[e_pos])
                    )
                    matches_new.append((rid_base + m[0][0], e_tick, prid))
                    i = nxt
                else:
                    i += 1
            aux["cursor"] = rid_base + i
            # emission replay in start-rid order: matches at/below a
            # start's rid emit before its verdict (their emission may
            # prune it); a reported start's horizon gates every LATER
            # match (the reference's start-ordered completed queue)
            gates, emissions = aux["gates"], aux["emissions"]

            def _emit(ms_rid, e_tick, prid):
                thr = max(e_tick, aux["prev_emit"])
                for g_rid, g_h in gates:
                    if g_rid < ms_rid and g_h > thr:
                        thr = g_h
                j = int(np.searchsorted(ticks, thr, side="left"))
                if j < n:  # always true: thr <= max buffered tick
                    aux["prev_emit"] = float(ticks[j])
                    emissions.append((aux["prev_emit"], prid))

            mi = 0
            for i in dec:
                ii = int(i)
                s_rid = rid_base + ii
                h = float(ticks[i]) + delta
                while mi < len(matches_new) and matches_new[mi][0] <= s_rid:
                    _emit(*matches_new[mi])
                    mi += 1
                if ii in surv_starts:
                    if any(e < h and _covers(s_rid, p) for e, p in emissions):
                        pruned_starts.add(ii)
                    else:
                        gates.append((s_rid, h))
                elif ii in dead_gates:
                    # a stop-edge-killed branch stays live (and gating)
                    # until its kill event; pruned-before-death entries
                    # are subsumed by prev_emit monotonicity
                    d = dead_gates[ii]
                    if not any(e < d and _covers(s_rid, p) for e, p in emissions):
                        gates.append((s_rid, d))
            while mi < len(matches_new):  # matches past the last start
                _emit(*matches_new[mi])
                mi += 1

        # phase 3: emit the unpruned partials, serials in plan-major
        # order (identical numbering to the pre-skip operator when
        # nothing is pruned). Computations sharing an event set
        # collapse to ONE reported partial (NFAITCase compares sets) —
        # plan shapes are disjoint by construction except for group
        # loops whose iteration can both continue and complete on the
        # same loop take (loop leaf with optable-only surroundings,
        # round 14 late): there a k-take run and its split across two
        # iterations are distinct live computations over identical rows.
        seen_sets: set = set()
        pieces = []
        for tag, ii, h, rows in cands:
            if ii in pruned_starts:
                continue
            sig = frozenset(
                (p, s2[:-4] if s2.endswith("__gq") else s2)
                for p, s2 in rows
            )
            if sig in seen_sets:
                continue
            seen_sets.add(sig)
            out = pdf.iloc[[p for p, _s in rows]].copy()
            out["matched_symbol"] = [s2 for _p, s2 in rows]
            out["timeout_id"] = f"{tag}#{serial}"
            out["timeout_ts"] = (
                pd.Timestamp(int(h), unit="us") if is_time else h
            )
            serial += 1
            pieces.append(out)
        keep = pdf[ticks > f_new] if n else pdf
        if skip_compiled is not None:
            # retention: dropped rows are the sorted prefix; gates and
            # emissions live while they can still affect undecided
            # starts (horizon above the frontier / pruning id at or
            # beyond the first kept rid)
            n_dropped = n - len(keep)
            first_kept = aux["rid_base"] + n_dropped
            aux["rid_base"] = first_kept
            if n:
                aux["cursor"] = max(aux["cursor"], first_kept)
            aux["gates"] = [
                (g, gh) for g, gh in aux["gates"] if gh > f_new
            ]
            aux["emissions"] = [
                (e, p) for e, p in aux["emissions"] if p >= first_kept
            ]
            blob = pickle.dumps({"pdf": keep, "aux": aux})
        else:
            blob = pickle.dumps(keep)
        state.update((blob, float(max(frontier, f_new)), int(serial)))
        if pieces:
            yield pd.concat(pieces, ignore_index=True)
        else:
            yield pd.DataFrame(
                columns=[*input_cols, "matched_symbol", "timeout_id", "timeout_ts"]
            )

    return sample.groupBy(*part_cols).applyInPandasWithState(
        run, out_schema, state_schema, "append", "NoTimeout"
    )


def skip_prune_verdicts(
    events: DataFrame,
    matches: DataFrame,
    partials: DataFrame,
    keys: list[str],
    strict: bool,
) -> DataFrame:
    """Which partial-match starts does an AfterMatchSkipStrategy PRUNE
    (silently discard — they never reach the timeout side output)?

    Summary-level replay of the reference emission loop
    (flink-libraries/flink-cep/.../nfa/NFA.java:396-436
    ``processMatchesAccordingToSkipStrategy`` +
    ``aftermatch/AfterMatchSkipStrategy.prune``), per partition key:

    - Completed matches queue ordered by START event
      (NFAState.COMPUTATION_STATE_COMPARATOR) and one is emitted only
      once no live partial starts strictly earlier (``isEarlier`` uses
      <=, so a same-start partial does not gate). A never-completing
      earlier partial therefore DEFERS the emission until its own
      horizon fires — and is itself reported by ``advanceTime``, which
      runs before each event's ``doProcess``.
    - Emission happens at the first event whose tick reaches
      ``max(completion tick, previous emission tick, gating partials'
      horizons)`` — processing is event-driven, like ``advanceTime``.
    - On emission, live partials with start event <= pruningId
      (``SkipRelativeToWholeMatchStrategy.shouldPrune``; STRICT < for
      the SkipToElement strategies) are discarded. A partial whose
      horizon is <= the emission tick was already reported by that
      event's ``advanceTime`` — pruning only hits ``horizon > emit``.

    Which branches can gate: surviving never-completing partials (the
    ``__gate = 0`` rows — with static conditions an earlier-starting
    live branch reaches every stage no later than a later start, so
    completing branches co-complete and win by start order) AND
    branches later killed mid-gap by a stop edge (until() /
    notFollowedBy / not_next — NFACompiler's STOP transitions). A
    stop-edge branch is live in ``partialMatches`` until its kill
    event, so it defers emissions exactly until then: its gate entry
    carries ``__gate = 1`` and ``__horizon`` = the kill tick, and it
    is never itself reported (killed silently either way, so it must
    not reach the pruned-verdict output that anti-joins the timeout
    rows). Note the invariant that makes these gate-only rows
    conservative for every currently constructible shape: an earlier
    start's kill-exposure window opens no later than a later start's
    (its last take at each stage is <=, forced by the relaxed ignore
    NOT(take)), so a branch killed by a stop edge dies at or before
    the tick where any later-starting match's gap would also have
    died — the kill always precedes a completion it could gate. The
    machinery still models the kill tick exactly so that future shape
    lifts (greedy, NOT-before-fbAny) cannot silently break the
    deferral order.

    Inputs: ``events`` = keys + ``__rid``/``__tick`` (every partition
    row, arrival-ordered rid = the EventId total order), ``matches`` =
    keys + ``__srid``/``__etick``/``__prid`` (start rid, completion
    tick, pruning-event rid — a null ``__prid`` degrades that match to
    NoSkip, the reference's throwExceptionOnMiss=false path),
    ``partials`` = keys + ``__srid``/``__horizon``/``__gate`` (0 =
    reportable surviving partial, horizon = first tick + within; 1 =
    stop-edge-killed branch, horizon = its kill tick). Output: the
    keys + ``__srid`` of every PRUNED reportable partial start.

    100 TB: one keyed shuffle of the tagged union; per-key work is a
    linear walk over the key's matches with numpy masks over its
    partial starts — matches and partials are per-key summaries, the
    event axis is two doubles per row.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    def _tag(df, t, a, b, c):
        return df.select(
            *keys,
            F.lit(t).alias("__t"),
            F.col(a).cast("double").alias("__a"),
            F.col(b).cast("double").alias("__b"),
            (F.col(c) if c else F.lit(None)).cast("double").alias("__c"),
        )

    tagged = (
        _tag(events, "E", "__rid", "__tick", None)
        .unionByName(_tag(matches, "M", "__srid", "__etick", "__prid"))
        .unionByName(_tag(partials, "P", "__srid", "__horizon", "__gate"))
    )
    key_fields = [f for f in tagged.schema.fields if f.name in keys]
    out_schema = StructType([*key_fields, StructField("__srid", LongType())])

    def run(pdf):
        m = pdf[pdf["__t"] == "M"]
        p = pdf[pdf["__t"] == "P"]
        if not len(m) or not len(p):
            return pd.DataFrame(columns=[*keys, "__srid"])
        ev = np.sort(pdf.loc[pdf["__t"] == "E", "__b"].to_numpy(dtype=float))
        mm = m[["__a", "__b", "__c"]].to_numpy(dtype=float)
        mm = mm[np.argsort(mm[:, 0], kind="stable")]
        ps = p["__a"].to_numpy(dtype=float)
        ph = p["__b"].to_numpy(dtype=float)
        # gate-only rows (stop-edge-killed branches): defer emissions
        # until their kill tick but never appear in the prune output
        pgate = p["__c"].to_numpy(dtype=float) == 1.0
        live = np.ones(len(ps), dtype=bool)
        killed = np.zeros(len(ps), dtype=bool)
        prev = -np.inf
        for srid, etick, prid in mm:
            if np.isnan(prid):  # SKIP TO with no mapped rows -> NoSkip
                continue
            thr = max(float(etick), prev)
            gates = live & (ps < srid)
            if gates.any():
                thr = max(thr, float(ph[gates].max()))
            i = int(np.searchsorted(ev, thr, side="left"))
            if i >= len(ev):
                continue  # never witnessed: the match is never emitted
            emit = float(ev[i])
            prev = emit
            kill = live & (ph > emit) & ((ps < prid) if strict else (ps <= prid))
            if kill.any():
                killed |= kill
                live &= ~kill
        killed &= ~pgate
        if not killed.any():
            return pd.DataFrame(columns=[*keys, "__srid"])
        out = p.loc[killed, list(keys)].copy()
        out["__srid"] = p.loc[killed, "__a"].astype("int64").to_numpy()
        return out

    from reshape_on_flink_spark.session import (
        PYTHON_STAGE_TASK_BYTES,
        repartition_for_python_stage,
    )

    return (
        repartition_for_python_stage(
            tagged, list(keys), task_bytes=PYTHON_STAGE_TASK_BYTES
        )
        .groupBy(*keys)
        .applyInPandas(run, out_schema)
    )


def pandas_predicate(expr: str, symbols: list[str]):
    """Compile a MATCH_RECOGNIZE DEFINE expression into a vectorized
    pandas predicate ``(pdf) -> bool Series`` for the STREAMING matcher.

    Supported grammar (the common DEFINE subset; loud errors otherwise):
    comparisons (=, <>, <, <=, >, >=) between arithmetic (+ - * /)
    combinations of ``SYM.col`` references, ``PREV(SYM.col[, n])``
    (-> ``pdf[col].shift(n)``, evaluated over the key's full buffered
    history so PREV crosses micro-batch boundaries), numeric/string
    literals, and AND/OR/NOT with parentheses. This mirrors what the
    batch path compiles to Catalyst (lag over the partition window).
    """
    import re as _re

    def strip_outer_parens(s: str) -> str:
        s = s.strip()
        while s.startswith("(") and s.endswith(")"):
            depth = 0
            for i, ch in enumerate(s):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0 and i != len(s) - 1:
                        return s
            s = s[1:-1].strip()
        return s

    def split_top(s: str, word: str) -> list[str]:
        parts, depth, start, i, n = [], 0, 0, 0, len(s)
        pat = _re.compile(r"\b" + word + r"\b", _re.IGNORECASE)
        while i < n:
            ch = s[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "'":
                i += 1
                while i < n and s[i] != "'":
                    i += 1
            elif depth == 0:
                m = pat.match(s, i)
                if m:
                    parts.append(s[start:i])
                    start = i = m.end()
                    continue
            i += 1
        parts.append(s[start:])
        return parts

    def compile_bool(s: str) -> str:
        s = strip_outer_parens(s)
        ors = split_top(s, "OR")
        if len(ors) > 1:
            return "(" + " | ".join(compile_bool(p) for p in ors) + ")"
        ands = split_top(s, "AND")
        if len(ands) > 1:
            return "(" + " & ".join(compile_bool(p) for p in ands) + ")"
        m = _re.match(r"\s*NOT\b(.*)$", s, _re.IGNORECASE | _re.DOTALL)
        if m:
            return "(~" + compile_bool(m.group(1)) + ")"
        return compile_cmp(s)

    def compile_cmp(s: str) -> str:
        s = strip_outer_parens(s)
        # one top-level comparison operator
        depth, i, n = 0, 0, len(s)
        while i < n:
            ch = s[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "'":
                i += 1
                while i < n and s[i] != "'":
                    i += 1
            elif depth == 0:
                for op, py in (("<>", "!="), ("<=", "<="), (">=", ">="),
                               ("=", "=="), ("<", "<"), (">", ">")):
                    if s.startswith(op, i):
                        lhs, rhs = s[:i], s[i + len(op):]
                        return f"({compile_arith(lhs)} {py} {compile_arith(rhs)})"
            i += 1
        raise NotImplementedError(
            f"streaming DEFINE subset: expected a comparison, got {s!r}"
        )

    def compile_arith(s: str) -> str:
        s = strip_outer_parens(s)
        out, depth, i, n = [], 0, 0, len(s)
        while i < n:
            ch = s[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "'":
                j = s.index("'", i + 1)
                out.append(s[i : j + 1])
                i = j + 1
                continue
            if depth == 0 and ch in "+-*/":
                out.append(f" {ch} ")
                i += 1
                continue
            out.append(ch)
            i += 1
        return "(" + compile_atoms("".join(out)) + ")"

    sym_alt = "|".join(symbols)
    max_prev = [0]

    def compile_atoms(s: str) -> str:
        # Placeholder compilation: every recognized atom (PREV call,
        # SYM.col ref, string literal) is lifted out, then the REMAINDER
        # must contain nothing but numbers/operators/parens — so dotted
        # attribute access ('pdf.sum()') and unknown bare identifiers die
        # HERE at compile time, never executor-side in eval.
        lifted: list[str] = []

        def lift(code: str) -> str:
            lifted.append(code)
            return f" __P{len(lifted) - 1}__ "

        # String literals are lifted FIRST so no later atom regex (or the
        # function-name guard) can rewrite text INSIDE the quotes — e.g.
        # A.name = 'PREV(A.x)' must compare against the literal, not a
        # shift (same ordering the validation pass assumes).
        s = _re.sub(r"'(?:[^']|'')*'", lambda m: lift(m.group(0)), s)

        if _re.search(r"\b(NEXT|FIRST|LAST|FINAL|RUNNING|CLASSIFIER)\s*\(", s, _re.IGNORECASE):
            raise NotImplementedError(
                "streaming DEFINE subset: NEXT/FIRST/LAST/aggregates not supported"
            )

        def prev_repl(m: _re.Match) -> str:
            n = int(m.group(2) or 1)
            max_prev[0] = max(max_prev[0], n)
            return lift(f'pdf["{m.group(1)}"].shift({n})')

        s = _re.sub(
            r"\bPREV\s*\(\s*(?:" + sym_alt + r")\.(\w+)\s*(?:,\s*(\d+))?\s*\)",
            prev_repl,
            s,
            flags=_re.IGNORECASE,
        )
        s = _re.sub(
            r"\b(?:" + sym_alt + r")\.(\w+)", lambda m: lift(f'pdf["{m.group(1)}"]'), s
        )
        remainder = _re.sub(r"__P\d+__", "", s)
        remainder = _re.sub(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?", "", remainder)
        bad = _re.search(r"[A-Za-z_.\"\[\]]", remainder)
        if bad:
            raise NotImplementedError(
                f"streaming DEFINE subset: unsupported token at {bad.group(0)!r} "
                f"in {s!r} (only SYM.col, PREV(SYM.col[, n]), literals and "
                "arithmetic are allowed)"
            )
        return _re.sub(r"__P(\d+)__", lambda m: lifted[int(m.group(1))], s)

    src = compile_bool(expr)
    code = compile(src, "<define>", "eval")

    def predicate(pdf):
        result = eval(code, {"__builtins__": {}}, {"pdf": pdf})
        return result.fillna(False) if hasattr(result, "fillna") else result

    predicate.__doc__ = f"DEFINE {expr!r} -> {src}"
    predicate.max_prev = max_prev[0]
    return predicate


def iterative_predicate(expr: str, symbols: list[str], cur_sym: str):
    """Compile a MATCH_RECOGNIZE DEFINE expression containing
    match-scoped aggregates/navigation into an iterative condition
    ``fn(event, ctx) -> bool`` for :func:`match_recognize`'s
    ``iter_define`` (and the streaming operator's equivalent).

    RUNNING semantics, as in Flink (docs/content/docs/dev/table/sql/
    queries/match_recognize.md "Aggregations"; MatchCodeGenerator's
    AggregationPatternVariableFinder): an aggregate or FIRST/LAST over
    a pattern variable ranges over the rows mapped to that variable SO
    FAR in the current match attempt, INCLUDING the row currently
    being classified when the variable is ``cur_sym`` (the symbol this
    DEFINE belongs to). A bare ``SYM.col`` reference is the current
    row for ``cur_sym`` and the LAST mapped row for any other
    variable. SQL NULL semantics: empty SUM/AVG/MIN/MAX and
    out-of-range FIRST/LAST are NULL, COUNT is 0, and any comparison
    against NULL is false.

    Grammar: comparisons (=, <>, <, <=, >, >=) between arithmetic
    (+ - * /) combinations of ``SYM.col``, ``PREV(SYM.col[, n])``
    (physical row offset), ``SUM/COUNT/AVG/MIN/MAX(SYM.col)``,
    ``COUNT(SYM.*)``, ``FIRST/LAST(SYM.col[, n])``, numeric/string
    literals; AND/OR/NOT with parentheses. Loud errors otherwise.
    """
    import re as _re

    sym_alt = "|".join(symbols)

    def strip_outer_parens(s: str) -> str:
        s = s.strip()
        while s.startswith("(") and s.endswith(")"):
            depth = 0
            for i, ch in enumerate(s):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0 and i != len(s) - 1:
                        return s
            s = s[1:-1].strip()
        return s

    def split_top(s: str, word: str) -> list[str]:
        parts, depth, start, i, n = [], 0, 0, 0, len(s)
        pat = _re.compile(r"\b" + word + r"\b", _re.IGNORECASE)
        while i < n:
            ch = s[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "'":
                i += 1
                while i < n and s[i] != "'":
                    i += 1
            elif depth == 0:
                m = pat.match(s, i)
                if m:
                    parts.append(s[start:i])
                    start = i = m.end()
                    continue
            i += 1
        parts.append(s[start:])
        return parts

    # -- runtime helpers (SQL NULL semantics) ---------------------------
    def _mapped(sym, col, e, ctx):
        vals = [ev[col] for ev in ctx.get_events_for_pattern(sym)]
        if sym == cur_sym:
            vals.append(e[col])
        return vals

    def _agg(fn, sym, col, e, ctx):
        if col == "*":  # COUNT(SYM.*): rows, not values
            n = len(ctx.get_events_for_pattern(sym))
            return n + (1 if sym == cur_sym else 0)
        vals = [v for v in _mapped(sym, col, e, ctx) if v is not None]
        if fn == "COUNT":
            return len(vals)
        if not vals:
            return None
        if fn == "SUM":
            return sum(vals)
        if fn == "AVG":
            return sum(vals) / len(vals)
        if fn == "MIN":
            return min(vals)
        return max(vals)  # MAX

    def _nav(fn, sym, col, n, e, ctx):
        vals = _mapped(sym, col, e, ctx)
        if n >= len(vals):
            return None
        return vals[n] if fn == "FIRST" else vals[-1 - n]

    max_prev = [0]

    def _prev(col, n, ctx):
        p = ctx.pos - n
        return ctx.records[p][col] if p >= 0 else None

    def _ref(sym, col, e, ctx):
        if sym == cur_sym:
            return e[col]
        evs = ctx.get_events_for_pattern(sym)
        return evs[-1][col] if evs else None

    def _cmp(lhs, op, rhs):
        try:
            lv, rv = lhs(), rhs()
        except TypeError:  # arithmetic over NULL -> NULL
            return False
        if lv is None or rv is None:
            return False
        if op == "==":
            return lv == rv
        if op == "!=":
            return lv != rv
        if op == "<":
            return lv < rv
        if op == "<=":
            return lv <= rv
        if op == ">":
            return lv > rv
        return lv >= rv

    def _agge(fn, sym, rowfn, e, ctx):
        vals = [rowfn(r) for r in ctx.get_events_for_pattern(sym)]
        if sym == cur_sym:
            vals.append(rowfn(e))
        vals = [v for v in vals if v is not None]
        if fn == "COUNT":
            return len(vals)
        if not vals:
            return None
        if fn == "SUM":
            return sum(vals)
        if fn == "AVG":
            return sum(vals) / len(vals)
        if fn == "MIN":
            return min(vals)
        return max(vals)  # MAX

    row_fns: dict = {}

    def _agg_expr_code(fn: str, inner: str) -> str:
        syms = set(_re.findall(r"\b(" + sym_alt + r")\.", inner))
        if len(syms) != 1:
            raise NotImplementedError(
                f"aggregate over {inner!r}: must reference exactly one "
                "pattern variable (match_recognize.md Aggregations)"
            )
        sym = syms.pop()
        body = _re.sub(r"\b(?:" + sym_alt + r")\.(\w+)", r'__r["\1"]', inner)
        remainder = _re.sub(r"__r\[\"\w+\"\]", "", body)
        remainder = _re.sub(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?", "", remainder)
        if _re.search(r"[A-Za-z_.\"\[\]]", remainder):
            raise NotImplementedError(
                f"aggregate expression subset: unsupported token in {inner!r} "
                "(only SYM.col, literals and + - * / are allowed inside an "
                "aggregate)"
            )
        rcode = compile(body, "<agg-expr>", "eval")

        def rowfn(__r, _c=rcode):
            try:
                return eval(_c, {"__builtins__": {}}, {"__r": __r})
            except TypeError:  # NULL operand -> NULL row value
                return None

        name = f"_rf{len(row_fns)}"
        row_fns[name] = rowfn
        return f'_agge("{fn}", "{sym}", {name}, e, ctx)'

    G = {
        "__builtins__": {},
        "_agg": _agg, "_nav": _nav, "_prev": _prev, "_ref": _ref, "_cmp": _cmp,
        "_agge": _agge,
    }

    # -- compilers (python source; atoms lifted to placeholders) --------
    def compile_bool(s: str) -> str:
        s = strip_outer_parens(s)
        ors = split_top(s, "OR")
        if len(ors) > 1:
            return "(" + " or ".join(compile_bool(p) for p in ors) + ")"
        ands = split_top(s, "AND")
        if len(ands) > 1:
            return "(" + " and ".join(compile_bool(p) for p in ands) + ")"
        m = _re.match(r"\s*NOT\b(.*)$", s, _re.IGNORECASE | _re.DOTALL)
        if m:
            return "(not " + compile_bool(m.group(1)) + ")"
        return compile_cmp(s)

    def compile_cmp(s: str) -> str:
        s = strip_outer_parens(s)
        depth, i, n = 0, 0, len(s)
        while i < n:
            ch = s[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "'":
                i += 1
                while i < n and s[i] != "'":
                    i += 1
            elif depth == 0:
                for op, py in (("<>", "!="), ("<=", "<="), (">=", ">="),
                               ("=", "=="), ("<", "<"), (">", ">")):
                    if s.startswith(op, i):
                        lhs, rhs = s[:i], s[i + len(op):]
                        # default-arg binding: eval-locals are not closed
                        # over by lambdas defined inside the eval'd source
                        return (f'_cmp(lambda e=e, ctx=ctx: {compile_arith(lhs)}, "{py}", '
                                f"lambda e=e, ctx=ctx: {compile_arith(rhs)})")
            i += 1
        raise NotImplementedError(
            f"iterative DEFINE subset: expected a comparison, got {s!r}"
        )

    def compile_arith(s: str) -> str:
        s = strip_outer_parens(s)
        out, depth, i, n = [], 0, 0, len(s)
        while i < n:
            ch = s[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "'":
                j = s.index("'", i + 1)
                out.append(s[i : j + 1])
                i = j + 1
                continue
            if depth == 0 and ch in "+-*/":
                out.append(f" {ch} ")
                i += 1
                continue
            out.append(ch)
            i += 1
        return "(" + compile_atoms("".join(out)) + ")"

    def compile_atoms(s: str) -> str:
        lifted: list[str] = []

        def lift(code: str) -> str:
            lifted.append(code)
            return f" __P{len(lifted) - 1}__ "

        # Lift string literals FIRST: a literal whose text looks like an
        # atom (e.g. A.name = 'SUM(A.x)') must stay a literal — rewriting
        # inside quotes would miscompile silently (the validation pass
        # already assumes placeholders carry the literals).
        s = _re.sub(r"'(?:[^']|'')*'", lambda m: lift(m.group(0)), s)

        if _re.search(r"\b(NEXT|FINAL|RUNNING|CLASSIFIER|MATCH_NUMBER)\s*\(", s, _re.IGNORECASE):
            raise NotImplementedError(
                "iterative DEFINE subset: NEXT/FINAL/RUNNING/CLASSIFIER "
                "cannot combine with match-scoped aggregates"
            )
        s = _re.sub(
            r"\b(SUM|COUNT|AVG|MIN|MAX)\s*\(\s*(" + sym_alt + r")\.(\w+|\*)\s*\)",
            lambda m: lift(f'_agg("{m.group(1).upper()}", "{m.group(2)}", "{m.group(3)}", e, ctx)'),
            s,
            flags=_re.IGNORECASE,
        )
        # aggregates over single-variable EXPRESSIONS — "Aggregations can
        # be applied to expressions, but only if they reference a single
        # pattern variable" (match_recognize.md): SUM(A.price * A.tax)
        s = _re.sub(
            r"\b(SUM|COUNT|AVG|MIN|MAX)\s*\(([^()]+)\)",
            lambda m: lift(_agg_expr_code(m.group(1).upper(), m.group(2))),
            s,
            flags=_re.IGNORECASE,
        )
        s = _re.sub(
            r"\b(FIRST|LAST)\s*\(\s*(" + sym_alt + r")\.(\w+)\s*(?:,\s*(\d+))?\s*\)",
            lambda m: lift(
                f'_nav("{m.group(1).upper()}", "{m.group(2)}", "{m.group(3)}", {int(m.group(4) or 0)}, e, ctx)'
            ),
            s,
            flags=_re.IGNORECASE,
        )
        def _prev_repl(m):
            n = int(m.group(2) or 1)
            max_prev[0] = max(max_prev[0], n)
            return lift(f'_prev("{m.group(1)}", {n}, ctx)')

        s = _re.sub(
            r"\bPREV\s*\(\s*(?:" + sym_alt + r")\.(\w+)\s*(?:,\s*(\d+))?\s*\)",
            _prev_repl,
            s,
            flags=_re.IGNORECASE,
        )
        s = _re.sub(
            r"\b(" + sym_alt + r")\.(\w+)",
            lambda m: lift(f'_ref("{m.group(1)}", "{m.group(2)}", e, ctx)'),
            s,
        )
        remainder = _re.sub(r"__P\d+__", "", s)
        remainder = _re.sub(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?", "", remainder)
        bad = _re.search(r"[A-Za-z_.\"\[\]]", remainder)
        if bad:
            raise NotImplementedError(
                f"iterative DEFINE subset: unsupported token at {bad.group(0)!r} "
                f"in {s!r} (only SYM.col, PREV, SUM/COUNT/AVG/MIN/MAX, "
                "FIRST/LAST, literals and arithmetic are allowed)"
            )
        return _re.sub(r"__P(\d+)__", lambda m: lifted[int(m.group(1))], s)

    src = compile_bool(expr)
    code = compile(src, "<iter-define>", "eval")
    G.update(row_fns)  # aggregate-expression row lambdas lifted at compile

    def predicate(event, ctx):
        return bool(eval(code, G, {"e": event, "ctx": ctx}))

    predicate.__doc__ = f"DEFINE {cur_sym} AS {expr!r} -> {src}"
    predicate.max_prev = max_prev[0]
    return predicate
