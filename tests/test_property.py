"""Property-based tests (hypothesis) for the shared core semantics.

These pin the invariants the distributed pipeline depends on: determinism,
non-overlap, offset validity, and oracle-vs-UDF agreement on arbitrary text.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from knowledge_graph_integration_rag_biomedical_qna_spark.core.linking import (
    rank_candidates,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import (
    detect_mentions,
    detect_predicates,
    extract_mentions_and_triples,
    extract_triples,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.core.text import (
    normalize_alias,
    split_sentences,
    tokenize,
)

KEYS = frozenset({"aspirin", "cox2", "beta blocker", "tnf alpha", "il-6"})

text_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=200,
)
word_st = st.sampled_from(
    ["aspirin", "cox2", "beta", "blocker", "inhibits", "treats", "the",
     "patient", "is", "a", "treatment", "for", "il-6", "binds", "to", ".", ","]
)
sentence_st = st.lists(word_st, min_size=0, max_size=25).map(" ".join)


@given(text_st)
@settings(max_examples=300, deadline=None)
def test_split_sentences_total_and_nonempty(t):
    sents = split_sentences(t)
    assert all(len(s) > 1 for s in sents)
    assert all(s == s.strip() for s in sents)


@given(text_st)
@settings(max_examples=300, deadline=None)
def test_tokenize_offsets_consistent(t):
    for tok, a, b in tokenize(t):
        assert t[a:b] == tok
        assert tok


@given(sentence_st)
@settings(max_examples=300, deadline=None)
def test_mentions_nonoverlapping_and_deterministic(s):
    m1 = detect_mentions(s, KEYS)
    m2 = detect_mentions(s, KEYS)
    assert m1 == m2
    for a, b in zip(m1, m1[1:]):
        assert a.tok_end <= b.tok_start  # non-overlapping, ordered
    for m in m1:
        assert m.alias_key in KEYS
        assert normalize_alias(s[m.char_start:m.char_end]) == m.alias_key


@given(sentence_st)
@settings(max_examples=300, deadline=None)
def test_predicates_nonoverlapping(s):
    preds = detect_predicates(s)
    for (_, _, e1), (_, s2, _) in zip(preds, preds[1:]):
        assert e1 <= s2


@given(sentence_st)
@settings(max_examples=300, deadline=None)
def test_unified_equals_separate_paths(s):
    """extract_mentions_and_triples (pipeline path) must equal
    detect_mentions + extract_triples (oracle path) on any input."""
    m_u, t_u = extract_mentions_and_triples(s, KEYS)
    assert m_u == detect_mentions(s, KEYS)
    assert t_u == extract_triples(s, KEYS)


@given(sentence_st)
@settings(max_examples=300, deadline=None)
def test_triples_reference_detected_mentions(s):
    mentions = {m.alias_key for m in detect_mentions(s, KEYS)}
    for t in extract_triples(s, KEYS):
        assert t.subj_key in mentions and t.obj_key in mentions
        assert 0.1 <= t.confidence <= 1.0


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["C1", "C2", "C3", "C4"]),
            st.sampled_from(["aspirin", "asa", "acetylsalicylic acid"]),
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        ),
        min_size=0,
        max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_ranking_deterministic_and_sorted(cands):
    r1 = rank_candidates("aspirin", cands)
    r2 = rank_candidates("aspirin", list(reversed(cands)))
    # candidate-list order must NOT affect the (cui, score) ranking: ties on
    # (score, prior) break on cui, and equal-cui ties yield identical tuples
    assert r1 == r2
    scores = [s for _, s in r1]
    assert scores == sorted(scores, reverse=True)
    assert len(r1) <= 10


def _naive_longest_match(sentence, keys):
    """Reference matcher: the original greedy 3-2-1 n-gram join algorithm,
    kept here as the specification the AliasIndex fast path must equal."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import (
        _norm_token,
    )

    toks = tokenize(sentence)
    norm = [_norm_token(w) for w, _, _ in toks]
    out, i, n = [], 0, len(toks)
    while i < n:
        hit = None
        for span in range(min(3, n - i), 0, -1):
            key = " ".join(norm[i : i + span])
            if key in keys:
                hit = (span, key)
                break
        if hit is None:
            i += 1
            continue
        span, key = hit
        out.append((i, i + span, key, sentence[toks[i][1] : toks[i + span - 1][2]]))
        i += span
    return out


@given(sentence_st, st.sets(st.sampled_from(
    ["aspirin", "cox2", "beta blocker", "il-6", "beta", "treatment", "the patient x"]
), max_size=7))
@settings(max_examples=300, deadline=None)
def test_alias_index_equals_naive_matcher(s, keys):
    """The first-token-indexed matcher must produce exactly the mentions of
    the naive greedy longest-match specification for any dictionary/sentence."""
    got = [
        (m.tok_start, m.tok_end, m.alias_key, m.surface)
        for m in detect_mentions(s, frozenset(keys))
    ]
    assert got == _naive_longest_match(s, frozenset(keys))


# --- vectorized kernel == per-row specification ---

unicode_text_st = st.text(min_size=0, max_size=120)  # full unicode incl. \x00
# chars where Python-\s and RE2-\s disagree (vertical tab + FS/GS/RS/US):
# the kernel spells Python's set out, or sentence splits would diverge
divergent_ws_text_st = st.lists(
    st.sampled_from(
        list("\x0b\x1c\x1d\x1e\x1f\x0c.!? ") + sorted(KEYS)[:3] + ["treats", "a"]
    ),
    min_size=0,
    max_size=25,
).map("".join)
# the 29 str.isspace() code points and the kernel's separator bytes, beside
# multi-byte letters glued to tokens (IL\u20116 has a non-breaking hyphen),
# dictionary aliases and predicate words
UNICODE_WS = [chr(c) for c in range(0x3001) if chr(c).isspace()]
_MIX_WORDS = sorted(KEYS) + ["treats", "inhibits", "binds", "to", "is", "a", "treatment", "for"]
unicode_mix_st = st.lists(
    st.one_of(
        st.sampled_from(UNICODE_WS + ["\x00", "\x00\x01", "\x00\x02", ".", ". ", "!", ";"]),
        st.sampled_from(["5\u00b5g", "\u03b1-blocker", "IL\u20116", "\u00b5", "\u00b12\u00b0",
                         "aspirin\u03b1", "\u03b2cox2", "caf\u00e9"]),
        st.sampled_from(_MIX_WORDS),
        st.sampled_from(_MIX_WORDS).map(lambda w: w + " "),
    ),
    min_size=0,
    max_size=30,
).map("".join)


def _assert_kernel_equals_row_path(texts, text_type=None):
    """Feed the same Arrow arrays to the kernel and to the per-row
    specification `_extract_slow`; the two tables must
    match in row set, row ORDER and values (NaN mention confidences compare
    equal). Returns the kernel's table as a DataFrame."""
    import pandas as pd
    import pyarrow as pa

    from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import AliasIndex
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.vectorized import (
        _unified_pa_schema,
        extract_unified_batches,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.extraction import (
        _extract_slow,
    )

    conv = pa.array([f"c{i}" for i in range(len(texts))], type=pa.string())
    turn = pa.array(range(len(texts)), type=pa.int32())
    arr = pa.array(texts, type=text_type or pa.string())
    idx = AliasIndex(KEYS)
    schema = _unified_pa_schema()
    got = pa.Table.from_batches(
        list(extract_unified_batches(conv, turn, arr, idx)), schema
    ).to_pandas()
    # the kernel null-fills its text column at entry; the spec takes strings
    spec_texts = pa.array([t or "" for t in texts], type=pa.string())
    want_rb = _extract_slow(conv, turn, spec_texts, idx)
    want = pa.Table.from_batches([want_rb] if want_rb is not None else [], schema)
    pd.testing.assert_frame_equal(got, want.to_pandas())
    return got


@given(
    st.lists(
        st.one_of(sentence_st, text_st, unicode_text_st, divergent_ws_text_st,
                  unicode_mix_st),
        min_size=0,
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_vectorized_kernel_equals_row_path(texts):
    """extract_unified_batches produces the exact row set, row ORDER, and
    values of `_extract_slow`, on ASCII, Unicode and control-character text."""
    _assert_kernel_equals_row_path(texts)


ascii_sentence_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=150,
).map(lambda s: " ".join(s.split()))  # ws-normalized, like post-split sentences


@given(st.lists(ascii_sentence_st.filter(lambda s: len(s) > 1), min_size=1, max_size=6))
@settings(max_examples=300, deadline=None)
def test_byte_tokenizer_equals_regex_tokenize(sents):
    """_tokenize_arrow (numpy byte-LUT scan) must reproduce core.text.tokenize
    exactly on every sentence: token strings (lowered), sentence assignment,
    in-sentence positions, AND absolute char offsets."""
    import numpy as np
    import pyarrow as pa

    from knowledge_graph_integration_rag_biomedical_qna_spark.core.vectorized import (
        _tokenize_arrow,
    )

    arr = pa.array(sents, type=pa.string())
    tk = _tokenize_arrow(arr, pa)
    want = []  # (sent_idx, pos, lowered_token, start, end) per tokenize()
    base = 0
    for si, s in enumerate(sents):
        for pos, (tok, a, b) in enumerate(tokenize(s)):
            want.append((si, pos, tok.lower(), base + a, base + b))
        base += len(s)
    if tk == "EMPTY":
        assert not want, (sents, want)
        return
    low, sent_of, pos_in_sent, abs_start, abs_end, d = tk
    got = list(
        zip(sent_of.tolist(), pos_in_sent.tolist(), low.to_pylist(),
            abs_start.tolist(), abs_end.tolist())
    )
    assert got == want, (sents, got[:5], want[:5])


def test_divergent_whitespace_chars_route_to_slow_path():
    """Pinned regression: \\x0b and \\x1c-\\x1f are whitespace to Python's re
    but not to RE2's \\s. The kernel spells Python's set out, so rows holding
    them (and \\x0c, whitespace in both) give the specification's sent_idx
    and rows."""
    k = sorted(KEYS)
    texts = [f"{k[0]}.{ch}{k[1]} treats {k[2]}." for ch in "\x0b\x1c\x1d\x1e\x1f\x0c"]
    texts.append(f"{k[0]} treats {k[1]}.")  # plain fast-path row in the same batch
    _assert_kernel_equals_row_path(texts)


def test_large_string_input_equals_string_input():
    """The kernel casts its text column to pa.string() once at entry: a
    large_string batch (64-bit offsets) with ASCII and non-ASCII rows must
    give the same table as the same texts as pa.string()."""
    import pandas as pd
    import pyarrow as pa

    k = sorted(KEYS)
    texts = [
        f"{k[0]} treats {k[1]}. The {k[2]} inhibits {k[3]}.",
        f"Caf\u00e9 {k[0]} treats {k[1]} \u2014 {k[2]}.",
        None,
        "",
        f"{k[4]} binds {k[0]}!  {k[1]} treats {k[2]}",
        f"na\u00efve {k[3]} inhibits {k[4]}.",
    ]
    large = _assert_kernel_equals_row_path(texts, pa.large_string())
    small = _assert_kernel_equals_row_path(texts, pa.string())
    assert len(large) > 0
    pd.testing.assert_frame_equal(large, small)


def test_whitespace_set_is_pythons_and_arrows():
    """The kernel's spelled-out whitespace set is exactly the code points
    where str.isspace() holds (the set of Python's re \\s and str.strip()),
    and exactly the set pc.utf8_trim_whitespace trims."""
    import re

    import pyarrow as pa
    import pyarrow.compute as pc

    from knowledge_graph_integration_rag_biomedical_qna_spark.core import vectorized

    chars = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    spelled = {ch for ch in chars if re.fullmatch(vectorized._WS, ch)}
    assert spelled == {ch for ch in chars if ch.isspace()}
    assert len(spelled) == 29
    trimmed = pc.equal(pc.binary_length(pc.utf8_trim_whitespace(pa.array(chars))), 0)
    assert spelled == {ch for ch, t in zip(chars, trimmed.to_pylist()) if t}


def test_unicode_and_control_rows_take_the_kernel(monkeypatch):
    """Rows holding \u00b5, \u03b1, \\xa0, U+2011, \\u3000, \\x0b, \\x1c, \\x00 and
    \\x00\\x02 all reach `_extract_fast`, in one call with the ASCII rows, and
    the table equals `_extract_slow`."""
    k = sorted(KEYS)
    texts = [
        f"{k[0]} treats {k[2]} at 5\u00b5g.",
        f"The \u03b1-blocker {k[1]} inhibits {k[4]}.\xa0{k[2]} binds {k[0]}.",
        f"IL\u20116 and {k[3]} treats {k[0]}.\u3000\u3000{k[2]} inhibits {k[1]}!",
        f"{k[0]}.\x0b{k[2]} treats {k[4]};\x1c{k[3]} binds {k[0]}.",
        f"{k[0]}\x00 treats {k[2]}. \x00{k[3]} inhibits {k[1]}.\x00\x02{k[4]} binds {k[2]}.",
        f"{k[2]} treats {k[3]}.",
    ]
    calls = _record_kernel_calls(monkeypatch)
    _run_kernel(texts)
    assert calls == [("c0", len(texts), sum(len(t.encode()) for t in texts))], calls
    monkeypatch.undo()
    got = _assert_kernel_equals_row_path(texts)
    assert set(got["conv_id"]) == {f"c{i}" for i in range(len(texts))}


# --- the kernel's working set: each call sees <= KERNEL_SLICE_BYTES of text ---


def _record_kernel_calls(monkeypatch) -> list:
    """Wrap the kernel; each call appends (first conv_id, rows, text bytes)
    to the returned list."""
    import pyarrow.compute as pc

    from knowledge_graph_integration_rag_biomedical_qna_spark.core import vectorized

    calls = []

    def wrapped(conv, turn, texts, idx, _kernel=vectorized._extract_fast):
        nbytes = pc.sum(pc.binary_length(texts)).as_py() or 0
        calls.append((conv[0].as_py(), len(texts), nbytes))
        return _kernel(conv, turn, texts, idx)

    monkeypatch.setattr(vectorized, "_extract_fast", wrapped)
    return calls


def _run_kernel(texts) -> None:
    import pyarrow as pa

    from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import AliasIndex
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.vectorized import (
        extract_unified_batches,
    )

    conv = pa.array([f"c{i}" for i in range(len(texts))], type=pa.string())
    turn = pa.array(range(len(texts)), type=pa.int32())
    list(extract_unified_batches(conv, turn, pa.array(texts, pa.string()), AliasIndex(KEYS)))


@given(
    st.lists(
        st.one_of(sentence_st, text_st, unicode_text_st, divergent_ws_text_st,
                  unicode_mix_st, st.none(), st.just("")),
        min_size=0,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=96),
)
@settings(max_examples=200, deadline=None)
def test_sliced_kernel_equals_unsliced_and_row_path(texts, slice_bytes):
    """Cutting each batch into slices of a few bytes changes only how rows
    are batched: the output equals the unsliced kernel's and `_extract_slow`'s
    row for row, whatever rows (ASCII, non-ASCII, null, empty) the cuts fall
    between."""
    from unittest import mock

    import pandas as pd

    from knowledge_graph_integration_rag_biomedical_qna_spark.core import vectorized

    whole = _assert_kernel_equals_row_path(texts)
    with mock.patch.object(vectorized, "KERNEL_SLICE_BYTES", slice_bytes):
        sliced = _assert_kernel_equals_row_path(texts)
    pd.testing.assert_frame_equal(sliced, whole)


def test_every_kernel_call_is_within_the_slice_bound(monkeypatch):
    """Over a batch of many times the bound, every kernel call holds at most
    KERNEL_SLICE_BYTES of text unless it holds exactly one row. Rows 0-1
    fill the first slice; row 5 is larger than the bound and is a call of
    its own."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.core import vectorized

    k = sorted(KEYS)
    texts = [
        f"{k[0]} treats {k[2]}.",                # 20 bytes
        f"{k[2]} inhibits {k[3]}. ok.",          # 23: rows 0-1 fill the first slice
        f"Caf\u00e9 {k[0]} treats {k[2]}.",      # non-ASCII
        None,
        "",
        f"The {k[1]} treats {k[4]}. " * 8,       # 280 bytes, over the bound
        f"{k[3]} binds {k[0]}!  {k[2]} treats {k[1]}",
        f"{k[0]}.\x0b{k[2]} treats {k[4]}.",     # divergent whitespace
        f"{k[4]} inhibits {k[0]}.",
        f"na\u00efve {k[3]} inhibits {k[4]}.",
    ]
    bound = 48
    monkeypatch.setattr(vectorized, "KERNEL_SLICE_BYTES", bound)
    calls = _record_kernel_calls(monkeypatch)
    _run_kernel(texts)
    assert sum(rows for _, rows, _ in calls) == len(texts)
    assert sum(nbytes for *_, nbytes in calls) == sum(len((t or "").encode()) for t in texts)
    over = [c for c in calls if c[2] > bound]
    assert all(rows == 1 for _, rows, _ in over), calls
    starts = [c[0] for c in calls]
    assert starts[:2] == ["c0", "c2"], calls
    assert ("c5", 1, len(texts[5])) in calls, calls
    monkeypatch.undo()
    monkeypatch.setattr(vectorized, "KERNEL_SLICE_BYTES", bound)
    _assert_kernel_equals_row_path(texts)


def test_book_length_turn_is_processed_alone(monkeypatch):
    """A single turn of over 2 MB between two short ones is one kernel call
    on its own at the default bound, and the batch still equals
    `_extract_slow` row for row."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.config import (
        KERNEL_SLICE_BYTES,
    )

    k = sorted(KEYS)
    para = f"The {k[0]} treats {k[2]}. {k[4]} inhibits {k[3]}! A {k[1]} binds {k[0]}; ok. "
    book = para * (2 * 1024 * 1024 // len(para) + 1)
    assert len(book) > max(2 * 1024 * 1024, KERNEL_SLICE_BYTES)
    texts = [f"{k[0]} treats {k[2]}.", book, f"{k[2]} inhibits {k[3]}."]
    calls = _record_kernel_calls(monkeypatch)
    _run_kernel(texts)
    assert ("c1", 1, len(book)) in calls, calls
    monkeypatch.undo()
    got = _assert_kernel_equals_row_path(texts)
    assert (got["conv_id"] == "c1").sum() > len(book) // len(para)


# dictionary keys as a shipped dictionary may hold them: duplicates, doubled,
# leading and trailing spaces, the empty key, non-ASCII words and keys longer
# than MAX_MENTION_TOKENS; tokens may be empty or non-ASCII too
_KEY_WORDS = ["aspirin", "cox2", "beta", "blocker", "tnf", "alpha", "il-6", "treats",
              "the", "a", "\u00b5g", "\u03b1-blocker", "caf\u00e9", ""]
dict_key_st = st.one_of(
    st.lists(st.sampled_from(_KEY_WORDS), min_size=1, max_size=6).map(" ".join),
    st.sampled_from(["", " aspirin", "beta  blocker", "cox2 ", "tnf alpha beta blocker",
                     "\u00b5g \u03b1-blocker"]),
)
token_st = st.sampled_from(_KEY_WORDS + ["inhibits", "risk", "of", "xyz"])


@given(
    st.lists(token_st, min_size=0, max_size=60),
    st.lists(st.integers(min_value=0, max_value=6), min_size=0, max_size=60),
    st.lists(dict_key_st, min_size=0, max_size=12),
)
@settings(max_examples=200, deadline=None)
def test_ngram_masks_equal_per_span_is_in(words, breaks, keys):
    """The single-pass union-vocabulary bitmask prefilter in _ngram_masks,
    over the vocabulary an AliasIndex builds from a drawn dictionary with
    Arrow compute, must produce exactly the per-span masks of the naive
    one-set-per-span specification (k=1 exact membership; k>=2
    sentence-bounded k-gram membership; a key's span is
    `len(key.split(" "))`, and keys past MAX_MENTION_TOKENS are left out)
    for any token stream and sentence layout."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from knowledge_graph_integration_rag_biomedical_qna_spark.core.config import (
        MAX_MENTION_TOKENS,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import AliasIndex
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.vectorized import (
        _ngram_masks,
    )

    by_span: dict = {}
    for key in keys:
        if len(key.split(" ")) <= MAX_MENTION_TOKENS:
            by_span.setdefault(len(key.split(" ")), set()).add(key)
    values = pa.array(words, type=pa.string())
    # breaks -> monotone sentence ids of the same length as words
    sent_of = np.cumsum([(breaks[i % len(breaks)] == 0) if breaks else 0
                         for i in range(len(words))]).astype(np.int64) \
        if words else np.array([], dtype=np.int64)
    got = _ngram_masks(values, sent_of, AliasIndex(keys).vocab, pc)
    assert [k for k, *_ in got] == sorted(by_span, reverse=True)
    total = len(words)
    for k, mask, keys_k, kpos in got:
        want = np.zeros(total, dtype=bool)
        for p in range(total - k + 1):
            if k > 1 and sent_of[p] != sent_of[p + k - 1]:
                continue
            if " ".join(words[p : p + k]) in by_span[k]:
                want[p] = True
        assert np.array_equal(np.asarray(mask, dtype=bool), want), (k, words)
        # the keys/kpos gather contract: keys[j] is the k-gram at kpos[j]
        if k > 1 and kpos is not None and len(kpos):
            for j, p in enumerate(kpos.tolist()):
                assert keys_k[j].as_py() == " ".join(words[p : p + k])


@given(
    st.lists(st.tuples(dict_key_st, st.sampled_from(["Aspirin", "asa", "\u00b5g", ""]),
                       st.one_of(st.none(), st.sampled_from(["C1", "C2", "C3"])),
                       st.one_of(st.none(), st.floats(0, 1))), max_size=30),
    st.integers(min_value=0, max_value=30),
)
@settings(max_examples=200, deadline=None)
def test_candidates_of_a_key_are_its_rows_in_file_order(rows, cut):
    """Each key's candidates, read off the sorted table in place, are the
    rows a Python grouping of the same table gives that key, in file order,
    whether the table is one chunk or two; an unknown or null key has
    none."""
    import pyarrow as pa

    from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import AliasIndex

    names = ["alias_key", "alias", "cui", "prior"]
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows],
        pa.schema([(n, pa.float64() if n == "prior" else pa.string()) for n in names]),
    ).sort_by([(n, "ascending") for n in names])
    cut = min(cut, len(table))
    chunked = pa.Table.from_batches(
        [*table.slice(0, cut).to_batches(), *table.slice(cut).to_batches()], table.schema)
    want: dict = {}
    for r in table.to_pylist():
        want.setdefault(r["alias_key"], []).append((r["cui"], r["alias"], r["prior"]))
    for t in (table, chunked):
        index = AliasIndex(t.column("alias_key"), candidates=t)
        for key in {*want, "no such key", "aspirin z"}:
            assert index.candidates_of(key) == want.get(key, []), key
        assert index.candidates_of(None) == []
