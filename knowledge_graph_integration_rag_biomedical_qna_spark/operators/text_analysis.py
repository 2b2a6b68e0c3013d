"""Text-analysis operators: language ID, token counting, document
fingerprinting, and the stopword list the quality score counts. All pure
column expressions (JVM-side, codegen) — no Python in the hot path. Each has
an exact ANSI-SQL twin used as the DuckDB correctness oracle
(__spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker lists for the n-gram/lexical language-ID
# heuristic (documents.lang covers en/fr/es/de/zh in the test tables; zh has
# no latin markers and falls through to 'und').
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "por"],
    "de": ["der", "die", "und", "das", "ein"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_MULT = 131


def tokens_col(text_col: str = "text") -> Column:
    return F.split(F.trim(F.lower(F.col(text_col))), r"[ \t\n\x0b\f\r]+")


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    return F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(
        F.size(tokens_col(text_col))
    )


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """BPE-ish sub-token count: alpha runs, digit runs, and punct singletons
    (regex approximation of byte-pair pretokenization)."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]"), 0))


def lang_scores(text_col: str = "text") -> dict[str, Column]:
    """Per-language marker-hit counts over whitespace tokens."""
    toks = tokens_col(text_col)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text_col: str = "text") -> Column:
    """Argmax language by marker hits; 'und' when no marker fires.
    Deterministic tie-break: language name ascending."""
    scores = lang_scores(text_col)
    # struct compare is lexicographic on (n, neg_rank): max n wins, ties fall
    # to the SMALLEST alphabetical rank (neg_rank largest) — the ascending
    # tie-break the docstring promises
    pairs = F.array(
        *[
            F.struct(cnt.alias("n"), F.lit(-rank).alias("neg_rank"), F.lit(lang).alias("lang"))
            for rank, (lang, cnt) in enumerate(sorted(scores.items()))
        ]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["n"] > 0))
    return F.when(best.isNull(), F.lit("und")).otherwise(best["lang"])


def doc_fingerprint(text_col: str = "text") -> Column:
    """Deterministic rolling-hash fingerprint over whitespace tokens:

        h(tok) = length(tok) * 31 + ascii(first_char(tok))
        fp     = fold(tokens, 0, (acc, t) -> (acc * 131 + h(t)) % 1e9+7)

    Engine-portable (same arithmetic in DuckDB list_reduce)."""
    toks = tokens_col(text_col)
    th = lambda t: (F.length(t) * 31 + F.ascii(F.substring(t, 1, 1))).cast("bigint")  # noqa: E731
    return F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * FINGERPRINT_MULT + th(t)) % FINGERPRINT_MOD,
    )
