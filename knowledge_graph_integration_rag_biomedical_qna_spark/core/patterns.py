"""Mention detection + pattern-based SVO triple extraction.

The reference's expensive model stages (MedCPT encoders, cross-encoder rerank,
rag2-retriever/query_encode.py:51-78, rerank.py:37-75) are replaced by
deterministic lexical semantics with the SAME dataflow shape:

- mention detection  = dictionary longest-match over token n-grams
  (reference analog: FAISS candidate generation, retrieve.py:11-126)
- triple extraction  = predicate-phrase patterns connecting two mentions in a
  sentence (reference analog: the per-(query,doc) scoring loop, rerank.py:25-33)

Everything here is pure Python over tokens so the pandas oracle and the Spark
pandas-UDFs share one implementation.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from dataclasses import dataclass

from .config import MAX_ARG_GAP, MAX_MENTION_TOKENS
from .text import normalize_alias, tokenize

# Predicate lexicon: phrase (lowercase, space-joined tokens) -> normalized
# predicate. Multi-word phrases are matched longest-first.
PREDICATE_LEXICON: dict[str, str] = {
    "inhibits": "inhibits",
    "suppresses": "inhibits",
    "blocks": "inhibits",
    "activates": "activates",
    "stimulates": "activates",
    "upregulates": "activates",
    "treats": "treats",
    "is a treatment for": "treats",
    "is used to treat": "treats",
    "alleviates": "treats",
    "causes": "causes",
    "induces": "causes",
    "triggers": "causes",
    "prevents": "prevents",
    "protects against": "prevents",
    "is associated with": "associated_with",
    "correlates with": "associated_with",
    "binds": "binds",
    "binds to": "binds",
    "targets": "binds",
    "interacts with": "interacts_with",
    "increases": "increases",
    "elevates": "increases",
    "decreases": "decreases",
    "reduces": "decreases",
    "lowers": "decreases",
}

# First-word index: only phrases starting with the current token can match
# there, so the per-position scan is a dict hit instead of a 26-phrase loop.
# Buckets are longest-first, for greedy matching.
_PRED_BY_FIRST: dict[str, list[tuple[tuple[str, ...], str]]] = {}
for _phrase, _norm in sorted(PREDICATE_LEXICON.items(), key=lambda kv: -kv[0].count(" ")):
    _PRED_BY_FIRST.setdefault(_phrase.split()[0], []).append((tuple(_phrase.split()), _norm))


@dataclass(frozen=True)
class Mention:
    surface: str       # original text span
    alias_key: str     # normalized join key into concept_aliases
    tok_start: int     # token index (inclusive)
    tok_end: int       # token index (exclusive)
    char_start: int
    char_end: int


@dataclass(frozen=True)
class RawTriple:
    subj_surface: str
    subj_key: str
    pred: str
    obj_surface: str
    obj_key: str
    confidence: float


def _norm_token(w: str) -> str:
    """Per-token normalize with a fast path: purely alphanumeric tokens (the
    overwhelmingly common case) skip the regex edge-punct strip."""
    return w.lower() if w.isalnum() else normalize_alias(w)


class AliasIndex:
    """The alias dictionary the matcher and the linker read, kept as Arrow.

    `alias_keys`: the matcher's keys, an Arrow string array or an iterable
    of str. `candidates`: the rows linking draws from, a `pa.Table` of
    (alias_key, alias, cui, prior) sorted by alias_key, or None for a
    matcher-only index. A Python worker keeps the shipped file's
    memory-mapped table as both (plans.pipeline.ShippedAliases.value) and
    turns no column into Python objects; only the per-row matcher builds
    Python sets (`first_index`).
    """

    __slots__ = ("keys", "candidates", "_vocab", "_first", "_rows")

    def __init__(self, alias_keys, candidates=None):
        import pyarrow as pa

        if not isinstance(alias_keys, (pa.Array, pa.ChunkedArray)):
            alias_keys = pa.array(list(alias_keys), pa.string())
        self.keys, self.candidates = alias_keys, candidates
        self._vocab = self._first = self._rows = None

    @property
    def vocab(self) -> dict:
        """The kernel's vocabulary, built with Arrow compute on first use;
        keys longer than MAX_MENTION_TOKENS tokens are unreachable and left
        out (plans.pipeline.broadcast_alias_keys warns when it ships one)."""
        if self._vocab is None:
            from .vectorized import _vocab_arrays

            self._vocab = _vocab_arrays(self.keys, MAX_MENTION_TOKENS)
        return self._vocab

    def candidates_of(self, key) -> "list[tuple[str, str, float]]":
        """(cui, alias, prior) of every row under `key`, in file order; none
        for a null or unknown key. Bisects the sorted alias_key column's
        UTF-8 bytes in place (Arrow sorts strings by their bytes)."""
        if self._rows is None:
            if self.candidates is None:
                raise ValueError("this AliasIndex carries no link candidates; build it "
                                 "with plans.pipeline.broadcast_alias_keys")
            keys, *cols = (c.chunk(0) if c.num_chunks == 1 else c.combine_chunks() for c in
                           self.candidates.select(["alias_key", "cui", "alias", "prior"]).columns)
            _, off, data = keys.buffers()
            self._rows = (len(keys), memoryview(off).cast("i")[keys.offset :],
                          memoryview(data or b""), cols)
        if key is None:
            return []
        n, off, data, (cui, alias, prior) = self._rows
        rows, b = range(n), key.encode()

        def at(i):
            return data[off[i] : off[i + 1]].tobytes()

        lo = bisect_left(rows, b, key=at)
        step = 1  # gallop past the key's rows (most keys have a few), then bisect
        while lo + step <= n and at(lo + step - 1) == b:
            step *= 2
        hi = bisect_right(rows, b, lo + step // 2, min(lo + step, n), key=at)
        return [(cui[i].as_py(), alias[i].as_py(), prior[i].as_py()) for i in range(lo, hi)]

    def first_index(self):
        """(singles, multi_first) for `detect_mentions`, built on first call:
        the 1-token keys, and each first token's multi-token keys
        longest-first, so a position whose token starts no alias costs two
        set probes instead of three string joins."""
        if self._first is None:
            keys, multi = set(self.keys.to_pylist()), {}
            for k in sorted(keys, key=lambda k: -k.count(" ")):
                parts = tuple(k.split(" "))
                if 1 < len(parts) <= MAX_MENTION_TOKENS:
                    multi.setdefault(parts[0], []).append((parts, k))
            self._first = (frozenset(k for k in keys if " " not in k), multi)
        return self._first


def _as_index(alias_keys) -> AliasIndex:
    return alias_keys if isinstance(alias_keys, AliasIndex) else AliasIndex(alias_keys)


def detect_mentions(
    sentence: str,
    alias_keys: "set[str] | frozenset[str] | AliasIndex",
    toks: "list[tuple[str, int, int]] | None" = None,
) -> list[Mention]:
    """Greedy left-to-right longest-match dictionary mention detection.

    At each token position try n-gram lengths MAX_MENTION_TOKENS..1 against the
    normalized alias-key set; on a hit, emit the mention and jump past it
    (non-overlapping). Deterministic for a fixed dictionary.
    """
    idx = _as_index(alias_keys)
    if toks is None:
        toks = tokenize(sentence)
    # normalize each token once; an n-gram's alias key is the space-join of
    # its normalized tokens (normalize_alias is per-token by construction)
    norm = [_norm_token(w) for w, _, _ in toks]
    singles, multi_first = idx.first_index()
    mentions: list[Mention] = []
    i = 0
    n = len(toks)
    while i < n:
        w = norm[i]
        hit = None
        cands = multi_first.get(w)
        if cands is not None:
            for parts, full_key in cands:
                k = len(parts)
                if i + k <= n and norm[i + 1 : i + k] == list(parts[1:]):
                    hit = (k, full_key, toks[i : i + k])
                    break
        if hit is None and w in singles:
            hit = (1, w, toks[i : i + 1])
        if hit is None:
            i += 1
            continue
        span, key, words = hit
        cs, ce = words[0][1], words[-1][2]
        mentions.append(
            Mention(
                surface=sentence[cs:ce],
                alias_key=key,
                tok_start=i,
                tok_end=i + span,
                char_start=cs,
                char_end=ce,
            )
        )
        i += span
    return mentions


def detect_predicates(
    sentence: str, lowered: "list[str] | None" = None
) -> list[tuple[str, int, int]]:
    """Return (normalized_pred, tok_start, tok_end) occurrences, greedy
    longest-first, non-overlapping, left-to-right."""
    toks = lowered if lowered is not None else [t.lower() for t, _, _ in tokenize(sentence)]
    out: list[tuple[str, int, int]] = []
    i, n = 0, len(toks)
    by_first = _PRED_BY_FIRST
    while i < n:
        cands = by_first.get(toks[i])
        if cands is None:
            i += 1
            continue
        hit = None
        for phrase, norm in cands:
            k = len(phrase)
            if i + k <= n and tuple(toks[i : i + k]) == phrase:
                hit = (norm, k)
                break
        if hit is None:
            i += 1
        else:
            norm, k = hit
            out.append((norm, i, i + k))
            i += k
    return out


def extract_mentions_and_triples(
    sentence: str, alias_keys: "set[str] | frozenset[str]"
) -> "tuple[list[Mention], list[RawTriple]]":
    """One-pass extraction: mentions plus the triples assembled from them.
    The expensive tokenize+dictionary-match runs once; triple assembly reuses
    the mention list. Semantically identical to detect_mentions +
    extract_triples run separately (extract_triples delegates here)."""
    toks = tokenize(sentence)
    mentions = detect_mentions(sentence, alias_keys, toks=toks)
    if len(mentions) < 2:
        return mentions, []
    preds = detect_predicates(sentence, lowered=[w.lower() for w, _, _ in toks])
    return mentions, assemble_triples(sentence, mentions, preds=preds)


def extract_triples(sentence: str, alias_keys: "set[str] | frozenset[str]") -> list[RawTriple]:
    """SVO assembly: for each predicate occurrence pick the nearest mention
    ending at-or-before its start (subject) and the nearest mention starting
    at-or-after its end (object), both within MAX_ARG_GAP tokens.

    confidence = 1.0 - 0.1 * (subj_gap + obj_gap), floored at 0.1; gap = token
    distance between mention and predicate phrase. Deterministic.
    """
    return assemble_triples(sentence, detect_mentions(sentence, alias_keys))


def assemble_triples(
    sentence: str,
    mentions: list[Mention],
    preds: "list[tuple[str, int, int]] | None" = None,
) -> list[RawTriple]:
    """Triple assembly from a precomputed mention list (see extract_triples)."""
    if len(mentions) < 2:
        return []
    if preds is None:
        preds = detect_predicates(sentence)
    if not preds:
        return []
    triples: list[RawTriple] = []
    for pred, ps, pe in preds:
        subj = None
        subj_gap = None
        for m in mentions:
            if m.tok_end <= ps:
                gap = ps - m.tok_end
                if gap <= MAX_ARG_GAP and (subj_gap is None or gap < subj_gap):
                    subj, subj_gap = m, gap
        obj = None
        obj_gap = None
        for m in mentions:
            if m.tok_start >= pe:
                gap = m.tok_start - pe
                if gap <= MAX_ARG_GAP and (obj_gap is None or gap < obj_gap):
                    obj, obj_gap = m, gap
        if subj is None or obj is None or subj is obj:
            continue
        conf = max(0.1, round(1.0 - 0.1 * (subj_gap + obj_gap), 4))
        triples.append(
            RawTriple(
                subj_surface=subj.surface,
                subj_key=subj.alias_key,
                pred=pred,
                obj_surface=obj.surface,
                obj_key=obj.alias_key,
                confidence=conf,
            )
        )
    return triples
