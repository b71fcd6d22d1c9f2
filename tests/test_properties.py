"""Property-based tests (hypothesis): invariants that must hold for any
input — the randomized-testing layer the reference lacks (SURVEY §5.6)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),      # key (few keys -> collisions)
        st.integers(min_value=0, max_value=10**6),  # id
        st.integers(min_value=-10**6, max_value=10**6),  # value (cents)
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[1],
)


@SLOW
@given(rows_strategy, st.dictionaries(st.integers(0, 5), st.integers(2, 9), max_size=3))
@example(rows=[(0, 1, 5), (0, 2, -3), (1, 3, 7)], routing={})
def test_keyed_process_agg_equals_plain_for_any_routing(spark, rows, routing):
    """Exact per-key count/sum for any routing; the explicit example pins
    the empty one (the plain keyed stage)."""
    from reshape_on_flink_spark.streaming.reshape import keyed_process_agg

    df = spark.createDataFrame(rows, "k long, event_id long, v long")
    got = {
        r["k"]: (r["cnt"], r["sum_value"])
        for r in keyed_process_agg(df, "k", "v", routing, "event_id").collect()
    }
    expected = {}
    for k, _eid, v in rows:
        c, s = expected.get(k, (0, 0))
        expected[k] = (c + 1, s + v)
    assert got == expected


@SLOW
@given(rows_strategy)
def test_split_count_distinct_equals_plain(spark, rows):
    from reshape_on_flink_spark.operators.aggregates import split_count_distinct

    df = spark.createDataFrame(rows, "k long, event_id long, v long")
    got = {
        r["k"]: r["n_distinct"]
        for r in split_count_distinct(df, ["k"], "v", n_buckets=4).collect()
    }
    expected = {}
    for k, _eid, v in rows:
        expected.setdefault(k, set()).add(v)
    assert got == {k: len(s) for k, s in expected.items()}


@SLOW
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40, unique=True),
    st.sampled_from([(3600, 900), (600, 300), (7200, 1800)]),
)
def test_cumulate_covering_invariants(spark, epochs, sizes):
    """Every event lands in exactly ceil((t - ws) / step)-complement
    slices: slice k covers the event iff t < ws + k*step."""
    import math

    from reshape_on_flink_spark.operators.windows import cumulate

    max_s, step_s = sizes
    df = spark.createDataFrame(
        [(i, e) for i, e in enumerate(epochs)], "id long, epoch long"
    ).select("id", F.timestamp_seconds("epoch").alias("ts"), "epoch")
    out = cumulate(df, "ts", max_size=f"{max_s // 60} minutes", step=f"{step_s // 60} minutes")
    got = {}
    for r in out.select("id", "epoch", "window_start", "window_end").collect():
        got.setdefault(r["id"], []).append((r["window_start"], r["window_end"], r["epoch"]))
    for i, e in enumerate(epochs):
        ws = (e // max_s) * max_s
        offset = e - ws
        n_expected = (max_s // step_s) - (offset // step_s)
        wins = got[i]
        assert len(wins) == n_expected, (e, wins)
        assert all(w == ws for w, _, _ in wins)
        assert all(we > e >= ws for _, we, _ in wins)


@SLOW
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=20))
def test_tokenizer_matches_python_split(spark, texts):
    from reshape_on_flink_spark.llm.text import tokens

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {r["i"]: r["toks"] for r in df.select("i", tokens("text").alias("toks")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == t.split(), (t, got[i])


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.sampled_from("abc "), min_size=0, max_size=14),
    st.sampled_from(
        [
            "A B", "A+ B", "A B+", "A+ B+ C", "A B? C", "A C* B", "A+", "A? B+",
            "(A|B) C", "(A|B)+ C", "A (B|C)*", "(A|C)? B", "(A|B|C)+",
            "A+? B", "A*? B", "A?? B", "(A|B)+? C", "A B+? C", "C*? A B??",
        ]
    ),
)
def test_cep_matcher_agrees_with_regex_reference(rows, pattern_str):
    """The CEP backtracking matcher must equal a regex oracle: symbols
    A/B/C are 'row == a/b/c' predicates, patterns (incl. alternation
    groups) map 1:1 to regexes over the row string, matched greedily and
    non-overlapping (re.finditer == skip past last row)."""
    import re as _re

    from reshape_on_flink_spark.operators.cep import _matcher, parse_pattern, pattern_symbols

    toks = parse_pattern(pattern_str)
    symbols = pattern_symbols(toks)
    text = "".join(rows)
    sym_char = {"A": "a", "B": "b", "C": "c"}
    bools = [[c == sym_char[s] for c in text] for s in symbols]
    match_at = _matcher(symbols, toks)

    got = []
    i, n = 0, len(text)
    while i < n:
        m = match_at(bools, i, n)
        if m:
            got.append((m[0][0], m[-1][0] + 1))
            i = m[-1][0] + 1
        else:
            i += 1

    def tok_re(sym, q):
        if isinstance(sym, str):
            return sym_char[sym] + q
        return "(?:" + "|".join(sym_char[s] for s in sym) + ")" + q

    regex = "".join(tok_re(sym, q) for sym, q in toks)
    expected = [(mm.start(), mm.end()) for mm in _re.finditer(regex, text) if mm.end() > mm.start()]
    assert got == expected, (text, regex)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.sampled_from("abc "), min_size=0, max_size=14),
    st.sampled_from(
        [
            "A (B C)+",            # nested sequence group
            "(A (B|C))+",          # group inside group
            "A (B C+)* A",         # starred nested seq
            "(A B){2,3}",          # bounded quantifier on group
            "A{2,4} B",            # bounded quantifier on symbol
            "(A|B C)+",            # alternation with multi-symbol branch
            "A (B|C){1,2}? B",     # reluctant bounded group
            "((A|B) C)+?",         # reluctant nested nest
            "A{2} (B|C)",          # exact count
            "(A B?)+ C",           # optional inside group
        ]
    ),
)
def test_cep_ast_matcher_agrees_with_regex_reference(rows, pattern_str):
    """The generic AST matcher (nested groups, bounded quantifiers) must
    equal the Python regex engine — same backtracking priority — on
    non-overlapping leftmost matches."""
    import re as _re

    from reshape_on_flink_spark.operators.cep import _ast_matcher, ast_symbols, parse_pattern_ast

    ast = parse_pattern_ast(pattern_str)
    symbols = ast_symbols(ast)
    text = "".join(rows)
    sym_char = {"A": "a", "B": "b", "C": "c"}
    bools = [[c == sym_char[s] for c in text] for s in symbols]
    match_at = _ast_matcher(symbols, ast)

    got = []
    i, n = 0, len(text)
    while i < n:
        m = match_at(bools, i, n)
        if m:
            got.append((m[0][0], m[-1][0] + 1))
            i = m[-1][0] + 1
        else:
            i += 1

    regex = pattern_str.replace(" ", "").replace("(", "(?:")
    for s, c in sym_char.items():
        regex = regex.replace(s, c)
    expected = [(mm.start(), mm.end()) for mm in _re.finditer(regex, text) if mm.end() > mm.start()]
    assert got == expected, (text, regex)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=7), min_size=0, max_size=18),
    st.sampled_from(
        [
            "A B", "A+ B", "(A|B)+ C", "A+? B", "A B? C", "A C* B",
            "A (B C)+", "(A (B|C))+", "(A B){2,3}", "A{2,4} B",
            "(A|B C)+", "A (B|C){1,2}? B", "(A B?)+ C",
        ]
    ),
)
def test_cep_regex_scan_equals_matcher_scan(masks, pattern_str):
    """The bitmask-regex scan accelerator must produce the same matches
    (spans AND per-row labels) as the pure matcher loop, including on
    rows where several symbols are true simultaneously."""
    from reshape_on_flink_spark.operators.cep import (
        _ast_matcher,
        _bitmask_regex,
        _encode_bitmask_str,
        _flat_to_ast,
        _is_flat,
        _matcher,
        ast_symbols,
        parse_pattern,
        parse_pattern_ast,
        pattern_symbols,
    )

    if _is_flat(pattern_str):
        toks = parse_pattern(pattern_str)
        symbols = pattern_symbols(toks)
        match_at = _matcher(symbols, toks)
        rx = _bitmask_regex(symbols, _flat_to_ast(toks))
    else:
        ast = parse_pattern_ast(pattern_str)
        symbols = ast_symbols(ast)
        match_at = _ast_matcher(symbols, ast)
        rx = _bitmask_regex(symbols, ast)
    assert rx is not None
    n = len(masks)
    # bit b of mask -> symbol b true at that row (multi-hot rows allowed)
    bools = [[bool(m >> b & 1) for m in masks] for b in range(len(symbols))]

    def scan(use_rx):
        out = []
        enc = _encode_bitmask_str(bools, n) if use_rx else None
        i = 0
        while i < n:
            if use_rx:
                mm = rx.search(enc, i)
                if not mm:
                    break
                if mm.end() == mm.start():
                    i = mm.start() + 1
                    continue
                i = mm.start()
            m = match_at(bools, i, n)
            if m:
                out.append(tuple(m))
                i = m[-1][0] + 1
            else:
                i += 1
        return out

    assert scan(True) == scan(False), (masks, pattern_str)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.sampled_from("abc "), min_size=0, max_size=14),
    st.sampled_from(
        [
            "A B", "A+ B", "A B+", "A+ B+ C", "A B? C", "A C* B",
            "(A|B) C", "(A|B)+ C", "A B+? C",
        ]
    ),
)
def test_cep_to_next_row_agrees_with_per_position_regex(rows, pattern_str):
    """AFTER MATCH SKIP TO NEXT ROW must equal the independent oracle
    'attempt a greedy regex match at EVERY start position' (overlapping
    matches allowed, one per start) — the NFA semantics the reference's
    SkipToNextStrategy implements."""
    import re as _re

    from reshape_on_flink_spark.operators.cep import (
        _matcher,
        _resume_pos,
        parse_pattern,
        pattern_symbols,
    )

    toks = parse_pattern(pattern_str)
    symbols = pattern_symbols(toks)
    text = "".join(rows)
    sym_char = {"A": "a", "B": "b", "C": "c"}
    bools = [[c == sym_char[s] for c in text] for s in symbols]
    match_at = _matcher(symbols, toks)

    got = []
    i, n = 0, len(text)
    while i < n:
        m = match_at(bools, i, n)
        if m:
            got.append((m[0][0], m[-1][0] + 1))
            i = _resume_pos(m, "to_next_row", None, symbols)
        else:
            i += 1

    def tok_re(sym, q):
        if isinstance(sym, str):
            return sym_char[sym] + q
        return "(?:" + "|".join(sym_char[s] for s in sym) + ")" + q

    regex = _re.compile("".join(tok_re(sym, q) for sym, q in toks))
    expected = []
    for j in range(n):
        mm = regex.match(text, j)
        if mm and mm.end() > mm.start() and mm.start() == j:
            expected.append((j, mm.end()))
    # the scan only attempts starts >= previous match start + 1, which is
    # every position — but positions INSIDE a failed region are attempted
    # too, so the sets coincide exactly
    assert got == expected, (text, regex.pattern)


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),               # stream
            st.integers(min_value=0, max_value=10**6),   # doc id (unique)
            st.integers(min_value=0, max_value=40),      # token count
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[1],
    )
)
def test_pack_layout_properties(spark, rows):
    """For ANY corpus: per stream in id order, offsets are the exact
    running token sum (contiguity), pack math is floor/mod-consistent,
    and spanned counts cover the doc's token footprint."""
    from reshape_on_flink_spark.llm.pack import pack_sequences

    seq_len = 16
    df = spark.createDataFrame(
        [(s, i, "x " * n) for s, i, n in rows], "lang string, doc_id long, text string"
    )
    got = sorted(
        (
            (r["lang"], r["doc_id"], r["n_tokens"], r["tok_offset"],
             r["pack_id"], r["pack_offset"], r["n_packs_spanned"])
            for r in pack_sequences(df, seq_len).collect()
        )
    )
    running = {}
    for lang, did, n_tok, off, pid, poff, spanned in got:
        assert off == running.get(lang, 0), (lang, did)
        running[lang] = off + n_tok
        assert pid == off // seq_len and poff == off % seq_len
        last = off + max(n_tok, 1) - 1
        assert spanned == last // seq_len - pid + 1


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # bucket key
            st.integers(min_value=0, max_value=500),  # member id
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda t: (t[0], t[1]),
    ),
    st.integers(min_value=2, max_value=6),  # cap
)
def test_capped_bucket_pairs_invariants(spark, rows, cap):
    """For ANY bucket assignment and cap: (a) a<b on every pair; (b) no
    member of a multi-member bucket is orphaned (connectivity for
    clustering); (c) per-bucket pair count is bounded by the all-pairs
    count below the cap and by the linear star count above it; (d)
    capped == uncapped exactly when every bucket fits the cap."""
    from collections import defaultdict

    from reshape_on_flink_spark.llm.dedup import _capped_bucket_pairs

    df = spark.createDataFrame(rows, "bkey int, doc_id long").withColumn(
        "band", F.lit(0)
    )
    out = _capped_bucket_pairs(
        df, ["band", "bkey"], ["doc_id"], max_bucket_size=cap
    ).collect()
    pairs = {(r["a_doc_id"], r["b_doc_id"]) for r in out}
    assert all(a < b for a, b in pairs)

    buckets = defaultdict(set)
    for bkey, did in rows:
        buckets[bkey].add(did)
    covered = {x for p in pairs for x in p}
    expected_pairs = set()
    for members in buckets.values():
        if len(members) <= 1:
            continue
        assert members <= covered | (members - covered), members
        for m in members:
            assert m in covered, (m, sorted(members), cap)
        if len(members) <= cap:
            ms = sorted(members)
            expected_pairs |= {(a, b) for i, a in enumerate(ms) for b in ms[i + 1:]}
        else:
            pivot = min(members)
            expected_pairs |= {(pivot, m) for m in members if m != pivot}
    # pairs is exactly the union of per-bucket contributions (buckets can
    # overlap in membership, so subset in general; equality per our
    # single-band construction with distinct bucket keys)
    assert pairs == expected_pairs


def test_chunk_layout_properties(spark):
    """Chunk layout invariants for every doc length 0..130 against the
    size/stride spec (one Spark pass, pandas-side checks):
    - chunk count == 1 + ceil(max(n - size, 0)/stride)
    - chunk i covers tokens [i*stride, min(i*stride + size, n))
    - concatenating chunks at stride offsets reconstructs the doc
    """
    import math

    from reshape_on_flink_spark.llm.text import chunk_documents

    size, stride = 7, 5
    docs = [(n, " ".join(f"t{n}_{j}" for j in range(n))) for n in range(0, 131)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = (
        chunk_documents(df, size=size, stride=stride)
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
    )
    for n, text in docs:
        toks = text.split() if text else []
        chunks = out[out.doc_id == n]
        want_chunks = 1 + math.ceil(max(n - size, 0) / stride)
        assert len(chunks) == want_chunks, (n, len(chunks), want_chunks)
        for _, row in chunks.iterrows():
            start = int(row.chunk_id) * stride
            want = toks[start : start + size]
            got = row.chunk_text.split() if row.chunk_text else []
            assert got == want, (n, row.chunk_id)
            assert int(row.n_tokens) == len(want)


texts_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd", "eee"]), min_size=0, max_size=40
    ).map(" ".join),
    min_size=1,
    max_size=12,
)


@SLOW
@given(texts_strategy)
def test_passage_dedup_properties(spark, texts):
    """For ANY corpus: (1) kept-block multiset == distinct block set of
    the input (each distinct passage survives exactly once corpus-wide);
    (2) per-doc n_kept <= n_total; (3) every clean_text is a
    concatenation of that doc's own blocks in order."""
    from reshape_on_flink_spark.llm.dedup import passage_blocks, passage_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    blocks = passage_blocks(df, block=4).collect()
    out = passage_dedup(df, block=4).collect()

    # exact reference implementation: global first occurrence by
    # (doc_id, block_idx), reassembled per doc in block order
    seen: set = set()
    expected: dict = {}
    for b in sorted(blocks, key=lambda b: (b["doc_id"], b["block_idx"])):
        if b["block_text"] not in seen:
            seen.add(b["block_text"])
            expected.setdefault(b["doc_id"], []).append(b["block_text"])
    got = {r["doc_id"]: r for r in out}
    assert set(got) == set(expected)
    for doc_id, blks in expected.items():
        r = got[doc_id]
        assert r["clean_text"] == " ".join(blks)
        assert r["n_kept"] == len(blks)
        assert 1 <= r["n_kept"] <= r["n_total"]


@SLOW
@given(st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=8), min_size=1, max_size=50, unique=True))
def test_bloom_no_false_negatives_property(spark, keys):
    """For ANY key set: every inserted key probes positive."""
    from reshape_on_flink_spark.operators import sketches as SK

    df = spark.createDataFrame([(k,) for k in keys], "key string")
    bloom = SK.bloom_build(df, "key")
    misses = (
        df.crossJoin(F.broadcast(bloom))
        .where(~SK.bloom_might_contain(F.col("key")))
        .count()
    )
    assert misses == 0


edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
).map(lambda es: sorted({(min(a, b), max(a, b)) for a, b in es}))


def _py_kcore(edges: list[tuple[int, int]], k: int) -> set[tuple[int, int]]:
    cur = set(edges)
    while True:
        deg: dict[int, int] = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in cur if a in keep and b in keep}
        if nxt == cur:
            return cur
        cur = nxt


def _py_coreness(edges: list[tuple[int, int]]) -> dict[int, int]:
    # coreness(v) = max k with v in the k-core (peeling ground truth)
    nodes = {n for e in edges for n in e}
    out = {n: 0 for n in nodes}
    k = 1
    while True:
        core = _py_kcore(edges, k)
        if not core:
            return out
        for n in {x for e in core for x in e}:
            out[n] = k
        k += 1


@SLOW
@given(edges_strategy, st.integers(2, 4))
def test_kcore_subgraph_matches_python_peeling(spark, edges, k):
    from reshape_on_flink_spark.operators.iterate import kcore_subgraph

    df = spark.createDataFrame(edges, "src int, dst int")
    got = {tuple(r) for r in kcore_subgraph(df, k=k).select("src", "dst").collect()}
    assert got == _py_kcore(edges, k)


@SLOW
@given(edges_strategy)
def test_coreness_hindex_fixed_point_equals_peeling_definition(spark, edges):
    """The h-index iteration's fixed point IS the coreness (Lu et al.
    theorem) — checked against the direct peeling definition on random
    graphs, including non-dense ids and disconnected shapes. Each graph
    runs as one block and again with a budget of a few edges per block,
    so many blocks exchange values across rounds."""
    from unittest import mock

    from reshape_on_flink_spark.operators import iterate as it

    df = spark.createDataFrame(edges, "src int, dst int")
    want = _py_coreness(edges)
    got = {r["node"]: r["coreness"] for r in it.coreness(df).collect()}
    assert got == want
    with mock.patch.object(it, "CORENESS_BLOCK_EDGES", 4):
        got = {r["node"]: r["coreness"] for r in it.coreness(df).collect()}
    assert got == want


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.sampled_from("abc "), min_size=0, max_size=12),
    st.lists(st.sampled_from("abc "), min_size=0, max_size=12),
    st.sampled_from(
        ["A B", "A+ B", "A B+", "A B? C", "(A|B)+ C", "A (B|C)*", "A+? B", "A{1,2} B"]
    ),
)
def test_cep_iterative_ctx_free_equals_static(rows1, rows2, pattern_str):
    """An iterative condition that ignores its context must behave
    exactly like ANDing its per-row verdict into the static column —
    for both the first-match matcher and the noSkip enumerator. This
    pins that threading the partial match through the generators did
    not change branch exploration order or results."""
    from reshape_on_flink_spark.operators.cep import (
        _ast_enumerator,
        _ast_matcher,
        ast_symbols,
        parse_pattern_ast,
    )

    n = min(len(rows1), len(rows2))
    rows1, rows2 = rows1[:n], rows2[:n]
    ast = parse_pattern_ast(pattern_str)
    symbols = ast_symbols(ast)
    sym_char = {"A": "a", "B": "b", "C": "c"}
    static = [[c == sym_char[s] for c in rows1] for s in symbols]
    extra = [[c == sym_char[s] for c in rows2] for s in symbols]
    combined = [
        [a and b for a, b in zip(static[i], extra[i])] for i in range(len(symbols))
    ]
    ic = [
        (lambda pos, taken, col=extra[i]: col[pos]) for i in range(len(symbols))
    ]

    match_ref = _ast_matcher(symbols, ast)
    enum_ref = _ast_enumerator(symbols, ast)
    for start in range(n):
        assert match_ref(static, start, n, ic) == match_ref(combined, start, n), (
            rows1, rows2, pattern_str, start,
        )
        assert enum_ref(static, start, n, ic) == enum_ref(combined, start, n), (
            rows1, rows2, pattern_str, start,
        )


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(1, 5), min_size=0, max_size=10),
    st.integers(3, 9),
)
def test_cep_iterative_running_sum_agrees_with_bruteforce(vals, cap):
    """'a b+' with b = (v > 1 AND running sum of b incl current <= cap)
    vs a brute-force reference: valid expansions at a start are exactly
    the prefix runs whose every step keeps the sum under the cap."""
    from reshape_on_flink_spark.operators.cep import (
        _ast_enumerator,
        _flat_to_ast,
        parse_pattern,
        pattern_symbols,
    )

    toks = parse_pattern("a b+")
    symbols = pattern_symbols(toks)
    ast = _flat_to_ast(toks)
    n = len(vals)
    bools = [[v == 1 for v in vals], [v > 1 for v in vals]]

    def b_iter(pos, taken):
        s = vals[pos] + sum(vals[p] for p, si in taken if symbols[si] == "b")
        return s <= cap

    ic = [None, b_iter]
    enum_at = _ast_enumerator(symbols, ast)

    got = {
        tuple(p for p, _ in m)
        for start in range(n)
        for m in enum_at(bools, start, n, ic)
    }
    expected = set()
    for i in range(n):
        if vals[i] != 1:
            continue
        s = 0
        j = i + 1
        while j < n and vals[j] > 1 and s + vals[j] <= cap:
            s += vals[j]
            expected.add(tuple(range(i, j + 1)))
            j += 1
    assert got == expected, (vals, cap, got, expected)
