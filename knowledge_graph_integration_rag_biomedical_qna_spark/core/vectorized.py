"""Vectorized (pyarrow/numpy) extraction kernel — stages [2]+[3] fast path.

Replaces the per-token interpreted-Python matcher of `core.patterns` with
Arrow compute kernels over a flattened token stream:

- sentence split / ws-normalize: RE2 `replace_substring_regex` + C split
  (Python's lookbehind split is re-expressed as terminator-capture + \\x00
  sentinel insertion, bit-identical on ASCII input)
- tokenize: C split on the non-token char class + leading-punct strip
  (provably equal to `re.finditer(TOKEN)`: a token is the suffix of a
  separator-delimited field starting at its first alphanumeric)
- per-token normalize: `utf8_lower` + trailing-punct regex strip (tokens
  always start alphanumeric, so alias normalization reduces to these two)
- dictionary & predicate probes: `is_in` hash joins against the alias-key /
  predicate-phrase sets, one per n-gram length (<= 3 alias, <= 4 predicate);
  n-gram keys built with `binary_join_element_wise` over sliced views
- greedy longest-match non-overlap resolution + SVO assembly: Python, but
  only over HIT positions (output-sized, not token-sized)

Rows whose text is non-ASCII (or contains the \\x00 sentinel) take the exact
per-row Python path — RE2's ASCII `\\s` differs from Python's Unicode `\\s`
there. Semantics are row-for-row identical to `patterns.detect_mentions` /
`detect_predicates` / `assemble_triples` (property-tested in
tests/test_property.py): same greedy longest-first order, same normalization
(predicates lower-only, aliases lower+edge-strip), same confidence rounding.

Reference analog: the engine-side replacement for the reference's batched
encode loop (rag2-retriever/query_encode.py:51-78) — the per-item model call
becomes a per-batch columnar pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .config import MAX_ARG_GAP
from .patterns import PREDICATE_LEXICON, AliasIndex, _as_index, extract_mentions_and_triples
from .text import split_sentences, tokenize

_SENT_MARK_PAT = r"([.!?;])\s+"     # lookbehind-free form of text._SENT_BOUNDARY
_NONTOKEN_PAT = r"[^A-Za-z0-9'\-]+"  # complement of text._TOKEN char classes
_LEAD_PUNCT_PAT = r"^['\-]+"
_TRAIL_PUNCT_PAT = r"['\-]+$"
_WS_PAT = r"\s+"
_SEP = "\x00"
# Routing chars (see _fast_path_ok_arrow): \x00 is our sentence-separator
# sentinel; \x0b and \x1c-\x1f are whitespace to Python's re (\s) but NOT
# to RE2's ASCII \s, so the Arrow pipeline would split sentences differently
# (\x0c/formfeed matches in both engines, so it stays on the fast path).

# predicate phrases bucketed by token length: length -> {space-joined: norm}
_PRED_BY_LEN: dict[int, dict[str, str]] = {}
for _phrase, _norm in PREDICATE_LEXICON.items():
    _parts = _phrase.split()
    _PRED_BY_LEN.setdefault(len(_parts), {})[" ".join(_parts)] = _norm
_PRED_LENS_DESC = sorted(_PRED_BY_LEN, reverse=True)

# confidence = max(0.1, round(1 - 0.1*(subj_gap+obj_gap), 4)); gaps bounded by
# MAX_ARG_GAP, so precompute with PYTHON round (np.round can differ by 1 ulp)
_CONF_TABLE = np.array(
    [max(0.1, round(1.0 - 0.1 * g, 4)) for g in range(2 * MAX_ARG_GAP + 1)],
    dtype=np.float64,
)

_UNIFIED_COLUMNS = [
    "conv_id", "turn_idx", "sent_idx", "kind", "mention_idx",
    "surface", "alias_key", "tok_start", "tok_end",
    "subj_surface", "subj_key", "pred", "obj_surface", "obj_key", "confidence",
]

# per-process cache: id(AliasIndex) -> (AliasIndex strong ref, {len: pa.Array})
# The strong ref pins the index so the id can't be reused; at most one
# dictionary per broadcast per worker, so the "leak" is bounded and shared.
_PA_VOCAB_CACHE: dict[int, tuple] = {}


def _vocab_arrays(keys_by_len: dict) -> dict:
    """{span: (keys arrow array,)} plus a "_union" entry: (union word arrow
    array, uint64 bit-LUT with a 0 sentinel slot, {span: bit}). The union
    collapses the family's per-span hash probes (exact membership for span 1,
    first-word prefilter for span >= 2) into ONE index_in pass at match time —
    each extra is_in was a full re-hash of the token stream (~6-9 ms per probe
    on the 51k-turn batch). The union LUT is the sole prefilter; per-span
    first-word sets exist only transiently to build it (r6 advice: the cached
    per-span firsts Arrow arrays were dead data)."""
    import pyarrow as pa

    # one LUT bit per distinct n-gram span length; uint64 gives 64 before
    # overflow (r6 advice: the old uint8 LUT silently capped a family at 8 —
    # raising core.config.MAX_MENTION_TOKENS past that would corrupt masks)
    if len(keys_by_len) > 64:
        raise ValueError(
            f"_vocab_arrays: {len(keys_by_len)} distinct n-gram span lengths "
            "exceed the 64-bit union LUT (one bit per span length) — widen "
            "the LUT dtype before raising MAX_MENTION_TOKENS this far"
        )
    out = {}
    word_bits: dict[str, int] = {}
    bit_of: dict[int, int] = {}
    for bit_ix, k in enumerate(sorted(keys_by_len)):
        v = keys_by_len[k]
        keys = sorted(v)
        out[k] = (pa.array(keys, type=pa.string()),)
        bit = 1 << bit_ix
        bit_of[k] = bit
        firsts = {key.split(" ", 1)[0] for key in keys} if k > 1 else keys
        for w in firsts:
            word_bits[w] = word_bits.get(w, 0) | bit
    union = sorted(word_bits)
    lut = np.zeros(len(union) + 1, dtype=np.uint64)  # slot 0 = not-in-union
    for i, w in enumerate(union):
        lut[i + 1] = word_bits[w]
    out["_union"] = (pa.array(union, type=pa.string()), lut, bit_of)
    return out


def _pa_vocab(idx: AliasIndex):
    hit = _PA_VOCAB_CACHE.get(id(idx))
    if hit is not None and hit[0] is idx:
        return hit[1]
    arrays = _vocab_arrays(idx.keys_by_len())
    _PA_VOCAB_CACHE.clear()
    _PA_VOCAB_CACHE[id(idx)] = (idx, arrays)
    return arrays


def _pred_vocab():
    key = "__preds__"
    hit = _PA_VOCAB_CACHE.get(key)
    if hit is None:
        hit = (None, _vocab_arrays(_PRED_BY_LEN))
        _PA_VOCAB_CACHE[key] = hit
    return hit[1]


def _pred_norm_map():
    """(phrases arrow array, aligned norms arrow array) for the whole
    predicate lexicon — lets the triple stage map matched phrase -> canonical
    predicate with index_in/take instead of a to_pylist + Python-dict pass
    (that pass was ~2/3 of the triple stage's wall)."""
    import pyarrow as pa

    key = "__pred_norms__"
    hit = _PA_VOCAB_CACHE.get(key)
    if hit is None:
        phrases, norms = [], []
        for by in _PRED_BY_LEN.values():
            for ph, nm in by.items():
                phrases.append(ph)
                norms.append(nm)
        hit = (pa.array(phrases, type=pa.string()), pa.array(norms, type=pa.string()))
        _PA_VOCAB_CACHE[key] = hit
    return hit


def _empty_unified() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": pd.Series([], dtype=object),
            "turn_idx": np.array([], dtype="int32"),
            "sent_idx": np.array([], dtype="int32"),
            "kind": pd.Series([], dtype=object),
            "mention_idx": np.array([], dtype="int32"),
            "surface": pd.Series([], dtype=object),
            "alias_key": pd.Series([], dtype=object),
            "tok_start": np.array([], dtype="int32"),
            "tok_end": np.array([], dtype="int32"),
            "subj_surface": pd.Series([], dtype=object),
            "subj_key": pd.Series([], dtype=object),
            "pred": pd.Series([], dtype=object),
            "obj_surface": pd.Series([], dtype=object),
            "obj_key": pd.Series([], dtype=object),
            "confidence": np.array([], dtype="float64"),
        }
    )


def _ngram_masks(values, sent_of: np.ndarray, vocab_by_len: dict, pc):
    """For each n-gram length in vocab_by_len, a boolean hit mask over token
    positions (k-gram starting here, entirely inside one sentence, in vocab)
    plus the joined-key Arrow array for sparse gathers. Longest-first order.

    Entries are (span, mask, keys, kpos): kpos=None means keys[i] is the
    k-gram at global token position i (k=1 reuses `values`); otherwise keys
    is SPARSE and keys[j] is the k-gram at position kpos[j] — multi-token
    joins only run where the first token passes the firsts-prefilter, which
    turns 3x token-count string joins into a few hundred (r3: pred masks
    27ms -> ~2ms on the 10k-turn bench batch)."""
    import pyarrow as pa

    total = len(values)
    union, lut, bit_of = vocab_by_len["_union"]
    iix = pc.fill_null(pc.index_in(values, value_set=union), -1)
    bits = lut[iix.to_numpy(zero_copy_only=False) + 1]
    out: list[tuple[int, np.ndarray, object, object]] = []
    for k in sorted((s for s in vocab_by_len if s != "_union"), reverse=True):
        (vocab,) = vocab_by_len[k]
        mask = np.zeros(total, dtype=bool)
        keys = None
        kpos = None
        if k == 1:
            mask = (bits & bit_of[k]) != 0
            keys = values
        elif total >= k and len(vocab):
            cand = (bits[: total - k + 1] & bit_of[k]) != 0
            cand &= sent_of[: total - k + 1] == sent_of[k - 1 :]
            kpos = np.flatnonzero(cand)
            if kpos.size:
                parts = [pc.take(values, pa.array(kpos + j)) for j in range(k)]
                keys = pc.binary_join_element_wise(*parts, " ")
                mask[kpos] = pc.is_in(keys, value_set=vocab).to_numpy(zero_copy_only=False)
        out.append((k, mask, keys, kpos))
    return out


def _greedy_resolve(masks_desc, sent_of: np.ndarray):
    """Greedy longest-first, left-to-right, non-overlapping resolution.
    masks_desc: [(span, mask, keys)] DESCENDING by span.

    Fast path: span-1 hits can never overlap each other, so in sentences with
    NO multi-token hit every single-token hit is taken — pure numpy. The
    Python scan runs only over sentences that contain a multi-token hit."""
    single_mask = None
    multi_any = None
    span_at = np.zeros(len(sent_of), dtype=np.int8)
    for span, m, _k, _p in reversed(masks_desc):  # ascending: longer spans overwrite
        if span == 1:
            single_mask = m
        else:
            multi_any = m if multi_any is None else (multi_any | m)
        span_at[m] = span
    if multi_any is None or not multi_any.any():
        if single_mask is None:
            return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
        pos = np.flatnonzero(single_mask)
        return pos, np.ones(len(pos), dtype=np.int64)

    nsent = int(sent_of[-1]) + 1 if len(sent_of) else 0
    dirty_sent = np.zeros(nsent, dtype=bool)
    dirty_sent[sent_of[multi_any]] = True
    dirty_tok = dirty_sent[sent_of]

    clean_pos = np.flatnonzero(single_mask & ~dirty_tok) if single_mask is not None \
        else np.array([], dtype=np.int64)

    taken_pos: list[int] = []
    taken_span: list[int] = []
    cur_sent = -1
    next_free = 0
    # gather candidate attributes BEFORE .tolist(): hit-sized conversions,
    # never token-sized (full-array tolist was ~20% of kernel wall)
    cand = np.flatnonzero((span_at > 0) & dirty_tok)
    for p, s, k in zip(cand.tolist(), sent_of[cand].tolist(), span_at[cand].tolist()):
        if s != cur_sent:
            cur_sent = s
            next_free = 0
        if p < next_free:
            continue
        taken_pos.append(p)
        taken_span.append(k)
        next_free = p + k
    if not taken_pos:
        return clean_pos, np.ones(len(clean_pos), dtype=np.int64)
    all_pos = np.concatenate([clean_pos, np.asarray(taken_pos, dtype=np.int64)])
    all_span = np.concatenate(
        [np.ones(len(clean_pos), dtype=np.int64), np.asarray(taken_span, dtype=np.int64)]
    )
    order = np.argsort(all_pos, kind="stable")
    return all_pos[order], all_span[order]


def _gather_strings_arrow(pos: np.ndarray, span: np.ndarray, masks_desc, pc):
    """Batch-gather the matched key string for each taken (pos, span) as ONE
    Arrow string array in pos order (no per-row .as_py(), no Python strings):
    one take per span length, concatenated, then permuted back."""
    import pyarrow as pa

    n = len(pos)
    if n == 0:
        return pa.array([], type=pa.string())
    parts = []
    sel_parts = []
    for k, _m, keys, kpos in masks_desc:
        sel = np.flatnonzero(span == k)
        if sel.size:
            p = pos[sel]
            ix = p if kpos is None else np.searchsorted(kpos, p)
            parts.append(pc.take(keys, pa.array(ix)))
            sel_parts.append(sel)
    cat = pa.concat_arrays([p.combine_chunks() if isinstance(p, pa.ChunkedArray) else p
                            for p in parts])
    inv = np.empty(n, dtype=np.int64)
    inv[np.concatenate(sel_parts)] = np.arange(len(cat))
    return cat.take(pa.array(inv))


# byte classification LUTs for the zero-regex tokenizer (ASCII input only —
# non-ASCII rows take the slow path before we get here)
_LUT_CONT = np.zeros(256, dtype=bool)   # token continuation: [A-Za-z0-9'-]
_LUT_START = np.zeros(256, dtype=bool)  # token start: [A-Za-z0-9]
for _c in range(256):
    ch = chr(_c)
    if ch.isascii() and (ch.isalnum()):
        _LUT_CONT[_c] = True
        _LUT_START[_c] = True
_LUT_CONT[ord("'")] = True
_LUT_CONT[ord("-")] = True
_LUT_LOWER = np.arange(256, dtype=np.uint8)
_LUT_LOWER[ord("A") : ord("Z") + 1] += 32
# NOTE (measured, do not "optimize"): a byte-LUT twin of the dirty-sentence
# regex probe was built and interleave-A/B'd here — 17.7 ms vs RE2's 9.8 ms
# on the 51k-turn batch. The numpy version needs ~4 byte-sized boolean
# temporaries and this host's large-allocation page-fault cost dominates;
# RE2's single fused pass wins. The regex probe stays.


def _tokenize_arrow(sent_arr, pa):
    """Zero-regex tokenizer over the Arrow string buffer: numpy byte-class
    masks find maximal [A-Za-z0-9'-] runs (split at sentence boundaries); a
    token is each run's suffix from its first alphanumeric — exactly
    re.finditer(text._TOKEN). Returns (low arrow array, sent_of, pos_in_sent,
    abs_start, abs_end, data bytes view) with ABSOLUTE char offsets into the
    shared sentence buffer (ASCII: bytes == chars), or None when buffer
    assumptions don't hold (caller falls back to the RE2 path)."""
    n = len(sent_arr)
    if sent_arr.type != pa.string() or sent_arr.null_count:
        return None
    bufs = sent_arr.buffers()
    if bufs[1] is None or bufs[2] is None:
        return None
    off = np.frombuffer(bufs[1], dtype=np.int32)[sent_arr.offset : sent_arr.offset + n + 1]
    data_all = np.frombuffer(bufs[2], dtype=np.uint8)
    lo, hi = int(off[0]), int(off[-1])
    d = data_all[lo:hi]
    rel = (off - lo).astype(np.int64)
    if hi == lo:
        return "EMPTY"  # no bytes at all
    C = _LUT_CONT[d]
    S = _LUT_START[d]
    at_start = np.zeros(len(d), dtype=bool)
    at_start[rel[:-1][rel[:-1] < len(d)]] = True
    prev_c = np.r_[False, C[:-1]]
    run_start = C & (~prev_c | at_start)
    next_c = np.r_[C[1:], False]
    next_start = np.r_[at_start[1:], True]
    run_end_mask = C & (~next_c | next_start)
    run_start_pos = np.flatnonzero(run_start)   # one per run, ascending
    run_end_pos = np.flatnonzero(run_end_mask)  # same count, paired by rank
    s_pos = np.flatnonzero(S)                   # S implies C
    if s_pos.size == 0:
        return "EMPTY"
    # a run's token starts at its FIRST alnum byte (runs may open with '- which
    # never starts a token): run-sized bisect into s_pos replaces the old
    # byte-sized run-id cumsum + alnum-sized gather/diff (the kernel's largest
    # int64 temporaries — also its page-fault tail on this host)
    six = np.searchsorted(s_pos, run_start_pos, side="left")
    valid = six < s_pos.size
    sixc = np.minimum(six, s_pos.size - 1)
    valid &= s_pos[sixc] <= run_end_pos         # run contains an alnum at all
    tok_start = s_pos[sixc[valid]]              # first alnum in each token run
    tok_end = run_end_pos[valid] + 1
    total = tok_start.size
    sent_of = np.searchsorted(rel, tok_start, side="right") - 1
    first = np.flatnonzero(np.r_[True, sent_of[1:] != sent_of[:-1]])
    cnt = np.diff(np.r_[first, total])
    pos_in_sent = np.arange(total) - np.repeat(first, cnt)
    # lowered token text as ONE gathered arrow array (C-speed membership probes)
    lens = (tok_end - tok_start).astype(np.int64)
    out_off = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(lens, out=out_off[1:])
    # int32 gather index: token-byte totals are far below 2^31 (Arrow string
    # offsets are int32 anyway), and halving the index width halves the
    # kernel's largest remaining temporary
    gather = np.arange(int(out_off[-1]), dtype=np.int32)
    gather += np.repeat((tok_start - out_off[:-1]).astype(np.int32), lens)
    low_buf = _LUT_LOWER[d[gather]]
    low = pa.Array.from_buffers(
        pa.string(), total,
        [None, pa.py_buffer(out_off.astype(np.int32).tobytes()), pa.py_buffer(low_buf.tobytes())],
    )
    return low, sent_of.astype(np.int64), pos_in_sent, tok_start, tok_end, d


def _extract_slow(pdf: pd.DataFrame, idx: AliasIndex) -> pd.DataFrame:
    """Exact per-row path for non-ASCII / sentinel-bearing rows (rare)."""
    conv, ti, si_l, kind, midx = [], [], [], [], []
    surf, akey, ts_, te_ = [], [], [], []
    ss, sk, pr, os_, ok_, cf = [], [], [], [], [], []
    for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        for si, sent in enumerate(split_sentences(text)):
            mentions, triples = extract_mentions_and_triples(sent, idx)
            for mi, m in enumerate(mentions):
                conv.append(conv_id); ti.append(turn_idx); si_l.append(si)
                kind.append("m"); midx.append(mi)
                surf.append(m.surface); akey.append(m.alias_key)
                ts_.append(m.tok_start); te_.append(m.tok_end)
                ss.append(None); sk.append(None); pr.append(None)
                os_.append(None); ok_.append(None); cf.append(np.nan)
            for t in triples:
                conv.append(conv_id); ti.append(turn_idx); si_l.append(si)
                kind.append("t"); midx.append(-1)
                surf.append(None); akey.append(None)
                ts_.append(-1); te_.append(-1)
                ss.append(t.subj_surface); sk.append(t.subj_key); pr.append(t.pred)
                os_.append(t.obj_surface); ok_.append(t.obj_key); cf.append(t.confidence)
    return pd.DataFrame(
        {
            "conv_id": conv,
            "turn_idx": np.asarray(ti, dtype="int32"),
            "sent_idx": np.asarray(si_l, dtype="int32"),
            "kind": pd.Series(kind, dtype=object),
            "mention_idx": np.asarray(midx, dtype="int32"),
            "surface": pd.Series(surf, dtype=object),
            "alias_key": pd.Series(akey, dtype=object),
            "tok_start": np.asarray(ts_, dtype="int32"),
            "tok_end": np.asarray(te_, dtype="int32"),
            "subj_surface": pd.Series(ss, dtype=object),
            "subj_key": pd.Series(sk, dtype=object),
            "pred": pd.Series(pr, dtype=object),
            "obj_surface": pd.Series(os_, dtype=object),
            "obj_key": pd.Series(ok_, dtype=object),
            "confidence": np.asarray(cf, dtype="float64"),
        },
        columns=_UNIFIED_COLUMNS,
    )


def _fast_path_ok_arrow(texts) -> np.ndarray:
    """Per-row fast-path eligibility over an Arrow string array: pure ASCII
    (utf8 codepoint count == byte count) and none of the routing chars
    (\\x00 sentinel, \\x0b\\x1c-\\x1f whitespace-divergence set)."""
    import pyarrow.compute as pc

    ascii_ok = pc.equal(pc.utf8_length(texts), pc.binary_length(texts))
    bad = pc.match_substring_regex(texts, "[\x00\x0b\x1c-\x1f]")
    return pc.and_(ascii_ok, pc.invert(bad)).to_numpy(zero_copy_only=False)


def _unified_pa_schema():
    import pyarrow as pa

    key = "__unified_schema__"
    hit = _PA_VOCAB_CACHE.get(key)
    if hit is None:
        hit = pa.schema(
            [
                ("conv_id", pa.string()), ("turn_idx", pa.int32()),
                ("sent_idx", pa.int32()), ("kind", pa.string()),
                ("mention_idx", pa.int32()), ("surface", pa.string()),
                ("alias_key", pa.string()), ("tok_start", pa.int32()),
                ("tok_end", pa.int32()), ("subj_surface", pa.string()),
                ("subj_key", pa.string()), ("pred", pa.string()),
                ("obj_surface", pa.string()), ("obj_key", pa.string()),
                ("confidence", pa.float64()),
            ]
        )
        _PA_VOCAB_CACHE[key] = hit
    return hit


def extract_unified_batches(conv, turn, texts, alias_keys):
    """Arrow-native core: (conv_id, turn_idx, text) Arrow arrays -> iterator
    of unified-extraction RecordBatches (UNIFIED_SCHEMA order), no pandas on
    the fast path in EITHER direction — this is what mapInArrow calls, so the
    per-row Python-string materialization of the mapInPandas input/output
    conversion layers never happens. Mixed batches yield one RecordBatch per
    maximal fast/slow run, preserving exact row order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    idx: AliasIndex = _as_index(alias_keys)
    if len(texts) == 0:
        return
    texts = pc.fill_null(texts, "")
    ok = _fast_path_ok_arrow(texts)
    if ok.all():
        rb = _extract_fast(conv, turn, texts, idx)
        if rb is not None:
            yield rb
        return
    n = len(texts)
    run_start = 0
    for i in range(1, n + 1):
        if i == n or ok[i] != ok[run_start]:
            ln = i - run_start
            if ok[run_start]:
                rb = _extract_fast(
                    conv.slice(run_start, ln), turn.slice(run_start, ln),
                    texts.slice(run_start, ln), idx,
                )
                if rb is not None:
                    yield rb
            else:
                seg = pd.DataFrame(
                    {
                        "conv_id": conv.slice(run_start, ln).to_pylist(),
                        "turn_idx": turn.slice(run_start, ln).to_pylist(),
                        "text": texts.slice(run_start, ln).to_pylist(),
                    }
                )
                slow = _extract_slow(seg, idx)
                if len(slow):
                    yield pa.RecordBatch.from_pandas(
                        slow, schema=_unified_pa_schema(), preserve_index=False
                    )
            run_start = i


def extract_unified_pdf(pdf: pd.DataFrame, alias_keys) -> pd.DataFrame:
    """One pandas batch of turns (conv_id, turn_idx, text) -> unified
    extraction rows (UNIFIED_SCHEMA of operators.extraction): mention rows
    (kind='m') then triple rows (kind='t') per sentence, in sentence order —
    the exact row set AND row order of the per-row Python path. Pandas facade
    over extract_unified_batches (tests / direct callers); the Spark hot path
    uses the Arrow batches directly."""
    import pyarrow as pa

    if len(pdf) == 0:
        return _empty_unified()
    pdf = pdf.reset_index(drop=True)
    conv = pa.array(pdf["conv_id"].to_numpy(dtype=object), type=pa.string())
    turn = pa.array(pdf["turn_idx"].to_numpy())
    try:
        texts = pa.array(pdf["text"].to_numpy(dtype=object), type=pa.string())
    except (pa.lib.ArrowInvalid, pa.lib.ArrowTypeError, TypeError):
        # non-string garbage in text: normalize like the slow path would
        texts = pa.array(
            [t if isinstance(t, str) else "" for t in pdf["text"]], type=pa.string()
        )
    batches = list(extract_unified_batches(conv, turn, texts, alias_keys))
    if not batches:
        return _empty_unified()
    out = pa.Table.from_batches(batches, schema=_unified_pa_schema()).to_pandas()
    out["kind"] = out["kind"].astype(object)
    return out


_STRING_COLS = ("surface", "alias_key", "subj_surface", "subj_key",
                "pred", "obj_surface", "obj_key")


def _strings_to_object(df: pd.DataFrame) -> pd.DataFrame:
    """ArrowDtype string columns -> object dtype with None nulls (the slow
    path's representation), for mixed-batch concat and direct-pandas users."""
    for c in _STRING_COLS:
        s = df[c]
        if s.dtype != object:
            o = s.astype(object)
            df[c] = o.where(pd.notna(o), None)
    return df


def _extract_fast(conv, turn, texts, idx: AliasIndex):
    """All-ASCII fast path: (conv, turn, texts) Arrow arrays -> one unified
    RecordBatch (or None when there is nothing to emit). Arrow/numpy end to
    end; Python touches only hit positions."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # --- sentences: strip -> mark terminator boundaries -> split -> ws-normalize ---
    arr = texts.combine_chunks() if isinstance(texts, pa.ChunkedArray) else texts
    marked = pc.replace_substring_regex(
        pc.utf8_trim_whitespace(arr), pattern=_SENT_MARK_PAT, replacement="\\1" + _SEP
    )
    parts = pc.split_pattern(marked, pattern=_SEP)
    p_off = parts.offsets.to_numpy()
    flat = parts.flatten()
    # ws-normalize only when some sentence needs it: the boundary \s+ was
    # consumed by the marker and the text edge-trimmed, so a part is already
    # normalized unless it has edge ws, a double ws, or a non-space ws char —
    # one match scan replaces two full rewrite passes on clean batches
    dirty = pc.match_substring_regex(flat, r"^\s|\s\s|[\t\n\f\r]|\s$")
    if pc.any(dirty).as_py():
        sent_norm = pc.utf8_trim_whitespace(
            pc.replace_substring_regex(flat, pattern=_WS_PAT, replacement=" ")
        )
    else:
        sent_norm = flat
    keep = pc.greater(pc.utf8_length(sent_norm), 1).to_numpy(zero_copy_only=False)
    keep_idx = np.flatnonzero(keep)
    if keep_idx.size == 0:
        return None
    sent_arr = pc.take(sent_norm, pa.array(keep_idx))
    row_of_sent = np.repeat(np.arange(len(arr)), np.diff(p_off))[keep_idx]
    nsent = keep_idx.size
    grp_start = np.flatnonzero(np.r_[True, row_of_sent[1:] != row_of_sent[:-1]])
    grp_len = np.diff(np.r_[grp_start, nsent])
    sent_idx_arr = np.arange(nsent) - np.repeat(grp_start, grp_len)

    # --- tokens: zero-regex byte-LUT scan over the Arrow buffer (falls back
    # to the RE2 split pipeline if buffer assumptions don't hold) ---
    tk = _tokenize_arrow(sent_arr, pa)
    if tk == "EMPTY":
        return None
    if tk is not None:
        low, sent_of, pos_in_sent, tok_abs_start, tok_abs_end, sent_bytes = tk
        total = len(sent_of)
    else:
        fields = pc.split_pattern_regex(sent_arr, pattern=_NONTOKEN_PAT)
        f_off = fields.offsets.to_numpy()
        tok_raw = pc.replace_substring_regex(
            fields.flatten(), pattern=_LEAD_PUNCT_PAT, replacement=""
        )
        nz_idx = np.flatnonzero(
            pc.greater(pc.utf8_length(tok_raw), 0).to_numpy(zero_copy_only=False)
        )
        total = nz_idx.size
        if total == 0:
            return None
        tok_orig = pc.take(tok_raw, pa.array(nz_idx))
        low = pc.utf8_lower(tok_orig)
        sent_of = np.repeat(np.arange(nsent), np.diff(f_off))[nz_idx]
        first = np.flatnonzero(np.r_[True, sent_of[1:] != sent_of[:-1]])
        cnt = np.diff(np.r_[first, total])
        pos_in_sent = np.arange(total) - np.repeat(first, cnt)
        tok_abs_start = tok_abs_end = sent_bytes = None

    # trailing '- strip only when some token actually ends with one (checked
    # on the raw byte buffer — skips the full regex rewrite on clean batches)
    norm = low
    try:
        _lb = low.buffers()
        _loff = np.frombuffer(_lb[1], np.int32)[low.offset : low.offset + len(low) + 1]
        _ldat = np.frombuffer(_lb[2], np.uint8)
        _last = _ldat[_loff[1:] - 1]  # tokens are non-empty by construction
        if ((_last == 39) | (_last == 45)).any():  # ' or -
            norm = pc.replace_substring_regex(low, pattern=_TRAIL_PUNCT_PAT, replacement="")
    except (TypeError, ValueError, IndexError):
        norm = pc.replace_substring_regex(low, pattern=_TRAIL_PUNCT_PAT, replacement="")

    # --- greedy dictionary match (aliases on norm, predicates on low) ---
    alias_masks = _ngram_masks(norm, sent_of, _pa_vocab(idx), pc)
    if alias_masks:
        m_pos, m_span = _greedy_resolve(alias_masks, sent_of)
    else:
        m_pos = m_span = np.array([], dtype=np.int64)
    pred_masks = _ngram_masks(low, sent_of, _pred_vocab(), pc)
    p_pos, p_span = _greedy_resolve(pred_masks, sent_of)

    # --- mention records (char offsets only for multi-token spans, sparse) ---
    n_m = len(m_pos)
    ment_sent = sent_of[m_pos] if n_m else np.array([], dtype=np.int64)
    ment_ts = pos_in_sent[m_pos] if n_m else np.array([], dtype=np.int64)
    ment_te = ment_ts + m_span
    # mention_idx = rank within sentence (taken mentions are sentence-ordered)
    if n_m:
        mg_start = np.flatnonzero(np.r_[True, ment_sent[1:] != ment_sent[:-1]])
        mg_len = np.diff(np.r_[mg_start, n_m])
        ment_midx = np.arange(n_m) - np.repeat(mg_start, mg_len)
        ment_key_arr = _gather_strings_arrow(m_pos, m_span, alias_masks, pc)
        if sent_bytes is not None:
            # absolute char offsets are free on the byte path: surface =
            # sentence buffer slice from first token start to last token end,
            # gathered into ONE Arrow string buffer (no Python strings)
            starts = tok_abs_start[m_pos].astype(np.int64)
            ends = tok_abs_end[m_pos + m_span - 1].astype(np.int64)
            slens = ends - starts
            s_off = np.zeros(n_m + 1, dtype=np.int64)
            np.cumsum(slens, out=s_off[1:])
            g = np.arange(int(s_off[-1]), dtype=np.int64) + np.repeat(
                starts - s_off[:-1], slens
            )
            ment_surf_arr = pa.Array.from_buffers(
                pa.string(), n_m,
                [None, pa.py_buffer(s_off.astype(np.int32).tobytes()),
                 pa.py_buffer(sent_bytes[g].tobytes())],
            )
        else:
            ment_surf = np.empty(n_m, dtype=object)
            single = m_span == 1
            if single.any():
                ment_surf[single] = pc.take(tok_orig, pa.array(m_pos[single])).to_pylist()
            multi_i = np.flatnonzero(~single)
            if multi_i.size:
                sent_py: dict[int, str] = {}
                toks_py: dict[int, list] = {}
                for i in multi_i:
                    s = int(ment_sent[i])
                    toks = toks_py.get(s)
                    if toks is None:
                        sent_py[s] = sent_arr[s].as_py()
                        toks = tokenize(sent_py[s])
                        toks_py[s] = toks
                    cs = toks[int(ment_ts[i])][1]
                    ce = toks[int(ment_te[i]) - 1][2]
                    ment_surf[i] = sent_py[s][cs:ce]
            ment_surf_arr = pa.array(ment_surf, type=pa.string())
    else:
        ment_midx = np.array([], dtype=np.int64)
        ment_key_arr = pa.array([], type=pa.string())
        ment_surf_arr = pa.array([], type=pa.string())

    # --- triples: nearest mention before/after each predicate, per sentence ---
    # batch searchsorted over composite (sentence, token-pos) keys: the global
    # mention end/start key arrays are sorted (sentences ascending, positions
    # ascending within), so one vectorized bisect replaces the per-pred loop
    if len(p_pos) and n_m:
        p_sent = sent_of[p_pos]
        ps = pos_in_sent[p_pos]
        pe = ps + p_span
        big = np.int64(total + 2)
        si = np.searchsorted(ment_sent * big + ment_te, p_sent * big + ps, side="right") - 1
        oi = np.searchsorted(ment_sent * big + ment_ts, p_sent * big + pe, side="left")
        ok_t = (si >= 0) & (oi < n_m)
        sic = np.clip(si, 0, n_m - 1)
        oic = np.clip(oi, 0, n_m - 1)
        ok_t &= (ment_sent[sic] == p_sent) & (ment_sent[oic] == p_sent)
        sg = ps - ment_te[sic]
        og = ment_ts[oic] - pe
        ok_t &= (sg <= MAX_ARG_GAP) & (og <= MAX_ARG_GAP)
        vi = np.flatnonzero(ok_t)
        tri_sent_a = p_sent[vi]
        tsubj = sic[vi]
        tobj = oic[vi]
        p_phrase = _gather_strings_arrow(p_pos[vi], p_span[vi], pred_masks, pc)
        ph_arr, nm_arr = _pred_norm_map()
        tri_pred_arr = pc.take(nm_arr, pc.index_in(p_phrase, value_set=ph_arr))
        tri_conf = _CONF_TABLE[(sg[vi] + og[vi]).astype(np.int64)]
    else:
        tri_sent_a = tsubj = tobj = np.array([], dtype=np.int64)
        tri_pred_arr = pa.array([], type=pa.string())
        tri_conf = np.array([], dtype=np.float64)

    # --- assemble in row-path order: per sentence, mentions then triples ---
    n_t = len(tri_sent_a)
    n_out = n_m + n_t
    if n_out == 0:
        return None
    out_sent = np.concatenate([ment_sent, tri_sent_a])
    kind_rank = np.concatenate([np.zeros(n_m, dtype=np.int8), np.ones(n_t, dtype=np.int8)])
    within = np.concatenate([np.arange(n_m), np.arange(n_t)])
    order = np.lexsort((within, kind_rank, out_sent))
    is_m = kind_rank[order] == 0
    sent_sel = out_sent[order]

    # every column is assembled as an Arrow array (m-part ++ t-part, one
    # permuted take) and the batch goes straight back through mapInArrow —
    # no pandas object arrays in EITHER direction on the fast path
    order_pa = pa.array(order)
    row_take = pa.array(row_of_sent[sent_sel])
    nulls_m = pa.nulls(n_m, pa.string())
    nulls_t = pa.nulls(n_t, pa.string())
    tsubj_pa = pa.array(tsubj) if n_t else None
    tobj_pa = pa.array(tobj) if n_t else None

    def _s(m_arr, t_arr):
        return pa.concat_arrays([m_arr, t_arr]).take(order_pa)

    def _i32(m_vals, t_fill):
        return pa.array(
            np.concatenate([m_vals, np.full(n_t, t_fill, dtype=np.int64)])[order]
            .astype(np.int32)
        )

    conv_a = conv.combine_chunks() if isinstance(conv, pa.ChunkedArray) else conv
    turn_a = turn.combine_chunks() if isinstance(turn, pa.ChunkedArray) else turn
    cols = [
        conv_a.take(row_take),
        pc.cast(turn_a.take(row_take), pa.int32()),
        pa.array(sent_idx_arr[sent_sel].astype(np.int32)),
        pc.if_else(pa.array(is_m), pa.scalar("m"), pa.scalar("t")),
        _i32(ment_midx, -1),
        _s(ment_surf_arr, nulls_t),
        _s(ment_key_arr, nulls_t),
        _i32(ment_ts, -1),
        _i32(ment_te, -1),
        _s(nulls_m, ment_surf_arr.take(tsubj_pa) if n_t else nulls_t),
        _s(nulls_m, ment_key_arr.take(tsubj_pa) if n_t else nulls_t),
        _s(nulls_m, tri_pred_arr.combine_chunks()
           if isinstance(tri_pred_arr, pa.ChunkedArray) else tri_pred_arr),
        _s(nulls_m, ment_surf_arr.take(tobj_pa) if n_t else nulls_t),
        _s(nulls_m, ment_key_arr.take(tobj_pa) if n_t else nulls_t),
        pa.array(np.concatenate([np.full(n_m, np.nan), tri_conf])[order]),
    ]
    return pa.RecordBatch.from_arrays(cols, schema=_unified_pa_schema())
