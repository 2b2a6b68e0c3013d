"""Vectorized (pyarrow/numpy) extraction kernel — stages [2]+[3].

Replaces the per-token interpreted-Python matcher of `core.patterns` with
Arrow compute kernels over a flattened token stream:

- sentence split / ws-normalize: RE2 `replace_substring_regex` + C split
  (Python's lookbehind split is re-expressed as terminator-capture + \\x00\\x02
  separator insertion; a text's own \\x00 is escaped around the split)
- tokenize: numpy byte-class LUTs over the sentence buffer find the maximal
  [A-Za-z0-9'-] runs; a token is each run's suffix from its first
  alphanumeric (exactly `re.finditer(text._TOKEN)`), lowered by a byte LUT
- per-token normalize: lowering + trailing-punct regex strip (tokens
  always start alphanumeric, so alias normalization reduces to these two)
- dictionary & predicate probes: `is_in` hash joins against the alias-key /
  predicate-phrase sets, one per n-gram length (<= 3 alias, <= 4 predicate);
  n-gram keys built with `binary_join_element_wise` over sliced views
- greedy longest-match non-overlap resolution + SVO assembly: Python, but
  only over HIT positions (output-sized, not token-sized)

Every row takes this one path, whatever its characters. RE2's `\\s` is
only `[\\t\\n\\f\\r ]`, so the patterns spell out `_WS`, the 29 code points
of Python's `\\s` and `str.strip()`. The kernel is row-for-row identical to
the per-row specification `oracle.extraction._extract_slow`
(property-tested in tests/test_property.py): same greedy longest-first
order, same normalization (predicates lower-only, aliases
lower+edge-strip), same confidence rounding. Both take and return Arrow,
so no pandas sits between mapInArrow and the kernel.

The Arrow batch that crosses the UDF boundary is the transfer unit (rows,
`config.ARROW_BATCH`); the kernel's own working set (~40x the text it
holds) is bounded separately: `extract_unified_batches` cuts each batch into
row ranges of at most `config.KERNEL_SLICE_BYTES` of text, so one book-length
turn is processed alone and a 32k-row batch never meets the kernel whole.

Reference analog: the engine-side replacement for the reference's batched
encode loop (rag2-retriever/query_encode.py:51-78) — the per-item model call
becomes a per-batch columnar pass.
"""

from __future__ import annotations

import functools

import numpy as np

from .config import KERNEL_SLICE_BYTES, MAX_ARG_GAP
from .patterns import PREDICATE_LEXICON, AliasIndex, _as_index

# every str.isspace() code point but " ": Python's re \s and str.strip() use
# this set, pc.utf8_trim_whitespace trims it, and RE2's \s holds only 5 of it
_OTHER_WS = "\t-\r\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000"
_WS = f"[ {_OTHER_WS}]"
_SENT_MARK_PAT = rf"([.!?;]){_WS}+"   # lookbehind-free form of text._SENT_BOUNDARY
_TRAIL_PUNCT_PAT = r"['\-]+$"
_WS_PAT = rf"{_WS}+"
# sentence separator; a text's own \x00 is escaped to \x00\x01 around the
# split, so \x00\x02 occurs only where the marker put it
_SEP = "\x00\x02"

# confidence = max(0.1, round(1 - 0.1*(subj_gap+obj_gap), 4)); gaps bounded by
# MAX_ARG_GAP, so precompute with PYTHON round (np.round can differ by 1 ulp)
_CONF_TABLE = np.array(
    [max(0.1, round(1.0 - 0.1 * g, 4)) for g in range(2 * MAX_ARG_GAP + 1)],
    dtype=np.float64,
)


def _vocab_arrays(keys, max_span: int = 64) -> dict:
    """{span: (keys arrow array,)} for every span up to `max_span` that a
    key has, plus a "_union" entry: (union word arrow array, uint64 bit-LUT
    with a 0 sentinel slot, {span: bit}), from any string array of keys
    with Arrow compute (nulls and duplicates dropped). A key's span is its
    space count + 1, as `len(key.split(" "))` counts doubled, leading and
    empty keys; its first word is the part before its first space. The
    union collapses the family's per-span hash probes (exact membership for
    span 1, first-word prefilter for span >= 2) into ONE index_in pass at
    match time — each extra is_in was a full re-hash of the token stream
    (~6-9 ms per probe on the 51k-turn batch)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = pc.unique(pc.drop_null(keys))
    span = pc.add(pc.count_substring(keys, " "), 1).to_numpy(zero_copy_only=False)
    keys, span = keys.filter(pa.array(span <= max_span)), span[span <= max_span]
    spans = np.unique(span).tolist()
    # one LUT bit per distinct n-gram span length; uint64 gives 64 before
    # overflow (r6 advice: the old uint8 LUT silently capped a family at 8)
    if len(spans) > 64:
        raise ValueError(
            f"_vocab_arrays: {len(spans)} distinct n-gram span lengths exceed the "
            "64-bit union LUT — widen it before raising MAX_MENTION_TOKENS this far"
        )
    firsts = pc.list_element(pc.split_pattern(keys, " ", max_splits=1), 0)
    union = pc.unique(firsts)
    lut = np.zeros(len(union) + 1, dtype=np.uint64)  # slot 0 = not-in-union
    out, bit_of = {}, {}
    for bit_ix, k in enumerate(spans):
        sel = pa.array(span == k)
        bit_of[k] = 1 << bit_ix
        out[k] = (keys.filter(sel),)
        ix = pc.index_in(firsts.filter(sel), value_set=union).to_numpy(zero_copy_only=False)
        lut[ix + 1] |= np.uint64(bit_of[k])
    out["_union"] = (union, lut, bit_of)
    return out


@functools.cache
def _pred_vocab():
    import pyarrow as pa

    return _vocab_arrays(pa.array(list(PREDICATE_LEXICON), pa.string()))


@functools.cache
def _pred_norm_map():
    """(phrases arrow array, aligned norms arrow array) for the whole
    predicate lexicon — lets the triple stage map matched phrase -> canonical
    predicate with index_in/take instead of a to_pylist + Python-dict pass
    (that pass was ~2/3 of the triple stage's wall)."""
    import pyarrow as pa

    return (pa.array(list(PREDICATE_LEXICON), pa.string()),
            pa.array(list(PREDICATE_LEXICON.values()), pa.string()))


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
        keys = kpos = None
        if k == 1:
            mask = (bits & bit_of[k]) != 0
            keys = values
        elif total >= k:
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
    cat = pa.concat_arrays(parts)
    inv = np.empty(n, dtype=np.int64)
    inv[np.concatenate(sel_parts)] = np.arange(len(cat))
    return cat.take(pa.array(inv))


# byte classification LUTs for the zero-regex tokenizer: a token is ASCII,
# and every byte of a multi-byte UTF-8 character is >= 0x80, so no such byte
# is a token byte
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
    re.finditer(text._TOKEN). `sent_arr` is a null-free `pa.string()` array
    of non-empty sentences (extract_unified_batches casts its input once).
    Returns (low arrow array, sent_of, pos_in_sent, abs_start, abs_end, data
    bytes view) with ABSOLUTE byte offsets into the shared sentence buffer
    (char offsets on ASCII text), or "EMPTY" when no sentence holds a token."""
    n = len(sent_arr)
    bufs = sent_arr.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[sent_arr.offset : sent_arr.offset + n + 1]
    lo, hi = int(off[0]), int(off[-1])
    d = np.frombuffer(bufs[2], dtype=np.uint8)[lo:hi]
    rel = (off - lo).astype(np.int64)
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


@functools.cache
def _unified_pa_schema():
    import pyarrow as pa

    return pa.schema(
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


def extract_unified_batches(conv, turn, texts, alias_keys):
    """Arrow-native core: (conv_id, turn_idx, text) `pa.Array`s -> iterator
    of unified-extraction RecordBatches (UNIFIED_SCHEMA order), no pandas in
    EITHER direction — this is what mapInArrow calls. Texts are null-filled
    and cast to `pa.string()` once here, so the kernel sees int32-offset
    buffers.

    Each kernel call takes one row range: the batch is cut greedily, from the
    text offsets, into ranges of at most KERNEL_SLICE_BYTES of text (a longer
    row is a range of its own). A range yields at most one RecordBatch, in
    row order. Every output column is row-local (sentence, mention and token
    indices never cross a turn), so the cut changes how the rows are
    batched, never which rows come out or their order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    idx: AliasIndex = _as_index(alias_keys)
    n = len(texts)
    if n == 0:
        return
    texts = pc.cast(pc.fill_null(texts, ""), pa.string())
    off = np.frombuffer(texts.buffers()[1], np.int32)[texts.offset : texts.offset + n + 1]
    a = 0
    while a < n:
        end = int(off[a]) + KERNEL_SLICE_BYTES
        b = max(a + 1, int(np.searchsorted(off, end, "right")) - 1)
        rb = _extract_fast(conv.slice(a, b - a), turn.slice(a, b - a), texts.slice(a, b - a), idx)
        if rb is not None:
            yield rb
        a = b


def _extract_fast(conv, turn, texts, idx: AliasIndex):
    """The kernel over one row range: (conv, turn, texts) Arrow arrays -> one
    unified RecordBatch (or None when there is nothing to emit), row-for-row
    equal to `oracle.extraction._extract_slow`. Arrow/numpy end to end;
    Python touches only hit positions."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # --- sentences: strip -> mark terminator boundaries -> split -> ws-normalize ---
    has_nul = pc.any(pc.match_substring(texts, "\x00")).as_py()
    arr = pc.replace_substring(texts, "\x00", "\x00\x01") if has_nul else texts
    marked = pc.replace_substring_regex(
        pc.utf8_trim_whitespace(arr), pattern=_SENT_MARK_PAT, replacement="\\1" + _SEP
    )
    parts = pc.split_pattern(marked, pattern=_SEP)
    p_off = parts.offsets.to_numpy()
    flat = parts.flatten()
    if has_nul:
        flat = pc.replace_substring(flat, "\x00\x01", "\x00")
    # ws-normalize only when some sentence needs it: the boundary \s+ was
    # consumed by the marker and the text edge-trimmed, so a part is already
    # normalized unless it has edge ws, a double ws, or a non-space ws char —
    # one match scan replaces two full rewrite passes on clean batches
    dirty = pc.match_substring_regex(flat, f"^{_WS}|{_WS}{_WS}|[{_OTHER_WS}]|{_WS}$")
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

    # --- tokens: zero-regex byte-LUT scan over the Arrow buffer ---
    tk = _tokenize_arrow(sent_arr, pa)
    if tk == "EMPTY":
        return None
    low, sent_of, pos_in_sent, tok_abs_start, tok_abs_end, sent_bytes = tk
    total = len(sent_of)

    # trailing '- strip only when some token actually ends with one (checked
    # on the raw byte buffer — skips the full regex rewrite on clean batches)
    last = sent_bytes[tok_abs_end - 1]  # tokens are non-empty by construction
    norm = low
    if ((last == 39) | (last == 45)).any():  # ' or -
        norm = pc.replace_substring_regex(low, pattern=_TRAIL_PUNCT_PAT, replacement="")

    # --- greedy dictionary match (aliases on norm, predicates on low) ---
    alias_masks = _ngram_masks(norm, sent_of, idx.vocab, pc)
    m_pos, m_span = _greedy_resolve(alias_masks, sent_of)
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
        # absolute char offsets are free on the byte path: surface = sentence
        # buffer slice from first token start to last token end, gathered
        # into ONE Arrow string buffer (no Python strings)
        starts = tok_abs_start[m_pos].astype(np.int64)
        ends = tok_abs_end[m_pos + m_span - 1].astype(np.int64)
        slens = ends - starts
        s_off = np.zeros(n_m + 1, dtype=np.int64)
        np.cumsum(slens, out=s_off[1:])
        g = np.arange(int(s_off[-1]), dtype=np.int64) + np.repeat(starts - s_off[:-1], slens)
        ment_surf_arr = pa.Array.from_buffers(
            pa.string(), n_m,
            [None, pa.py_buffer(s_off.astype(np.int32).tobytes()),
             pa.py_buffer(sent_bytes[g].tobytes())],
        )
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
    # no pandas object arrays in EITHER direction
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

    cols = [
        conv.take(row_take),
        pc.cast(turn.take(row_take), pa.int32()),
        pa.array(sent_idx_arr[sent_sel].astype(np.int32)),
        pc.if_else(pa.array(is_m), pa.scalar("m"), pa.scalar("t")),
        _i32(ment_midx, -1),
        _s(ment_surf_arr, nulls_t),
        _s(ment_key_arr, nulls_t),
        _i32(ment_ts, -1),
        _i32(ment_te, -1),
        _s(nulls_m, ment_surf_arr.take(tsubj_pa) if n_t else nulls_t),
        _s(nulls_m, ment_key_arr.take(tsubj_pa) if n_t else nulls_t),
        _s(nulls_m, tri_pred_arr),
        _s(nulls_m, ment_surf_arr.take(tobj_pa) if n_t else nulls_t),
        _s(nulls_m, ment_key_arr.take(tobj_pa) if n_t else nulls_t),
        pa.array(np.concatenate([np.full(n_m, np.nan), tri_conf])[order]),
    ]
    return pa.RecordBatch.from_arrays(cols, schema=_unified_pa_schema())
