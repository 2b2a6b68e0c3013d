"""Focused tests for the r7 optimization changes to operator internals:

- with_shingles' regex n-gram kernel vs a naive Python reference (the old
  slice-and-join semantics), including the whitespace/empty-token edges the
  regex construction had to reproduce exactly;
- array_jaccard_verify vs the join-based reference jaccard_verify on the
  same candidate pairs, and the three dedup queries on a book-length
  document against that reference;
- the widened (uint64) union-vocab LUT: a >8-span family — the old uint8
  overflow hazard — still produces correct masks, and the >64-span guard
  raises.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _ref_shingles(text: str, n: int = 3) -> set[str]:
    """Naive reference of the ORIGINAL with_shingles semantics: Spark trim
    (spaces only) + split on the whitespace class (keeping empty edge
    fields) + slice/join n-grams, distinct."""
    toks = re.split(r"[ \t\n\x0b\f\r]+", text.lower().strip(" "))
    k = max(len(toks) - (n - 1), 1)
    return {" ".join(toks[i : i + n]) for i in range(k)}


ADVERSARIAL_TEXTS = [
    "plain three token text here",
    "two words",
    "one",
    "",
    "   ",
    "\ttab prefixed text\t",
    "a  b\nc d",
    "x \x0b y z w",
    "héllo wörld çase test tokens",
    "trailing separator ",
    " leading separator",
    "\t\t",
    "a-b c'd e_f g",
]


def test_regex_shingles_match_reference(spark):
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        with_shingles,
    )

    rows = [(i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in with_shingles(docs, n=3).collect():
        got.setdefault(r["id"], set()).add(r["shingle"])
    for i, t in rows:
        assert got.get(i, set()) == _ref_shingles(t, 3), f"text={t!r}"


@pytest.mark.parametrize("n", [1, 2, 4])
def test_regex_shingles_other_spans(spark, n):
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        with_shingles,
    )

    rows = [(i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in with_shingles(docs, n=n).collect():
        got.setdefault(r["id"], set()).add(r["shingle"])
    for i, t in rows:
        assert got.get(i, set()) == _ref_shingles(t, n), f"n={n} text={t!r}"


@pytest.mark.parametrize("threshold", [0.2, 0.0])
def test_array_jaccard_verify_equals_join_verify(spark, threshold):
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        array_jaccard_verify,
        with_shingles,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.dedup import jaccard_verify

    texts = [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta zeta",        # near-dup of 0
        "alpha beta gamma delta epsilon",     # exact dup of 0
        "completely different words entirely here",
        "alpha beta gamma other tail tokens",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sh = with_shingles(docs, n=3)
    pairs = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)], "id_a long, id_b long"
    )
    old = jaccard_verify(pairs, sh, threshold=threshold)
    stats = sh.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list(F.xxhash64("shingle")).alias("hs"),
    )
    new = array_jaccard_verify(pairs, stats, threshold=threshold)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    assert new.count() > 0  # the comparison is not vacuous



def test_dedup_queries_on_a_book_length_document(spark, tmp_path):
    """Each doc's shingle hashes ride the signature or stats aggregate as one
    array (`hs`), so a ~1 MB document is a ~150k-element array that
    array_intersect probes. The MinHash queries (both families) and the
    n-gram Jaccard query return exactly the join-based reference's pairs
    over all doc pairs, book-length near-duplicates included."""
    import random

    from knowledge_graph_integration_rag_biomedical_qna_spark import entry_queries
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import with_shingles
    from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.dedup import jaccard_verify

    rng = random.Random(7)
    vocab = ["".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=rng.randint(3, 9)))
             for _ in range(4000)]
    book = rng.choices(vocab, k=150_000)
    edited = [w if i % 500 else "edit" for i, w in enumerate(book)]
    short = " ".join(rng.choices(vocab, k=40))
    texts = [
        " ".join(book),
        " ".join(edited),                       # every 500th word replaced
        " ".join(book[: len(book) * 19 // 20]),  # last 5% cut
        short,
        short + " tail",
        " ".join(rng.choices(vocab, k=40)),
        "",
    ]
    assert len(texts[0]) > 1_000_000
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    ids = range(len(texts))
    all_pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long")
    sh = with_shingles(docs, n=3)

    def rows(df):
        return sorted(map(tuple, df.select("id_a", "id_b", "jaccard").collect()))

    for query, threshold in [("dedup_minhash_pairs", 0.35),
                             ("dedup_minhash_pairs_fast", 0.35),
                             ("dedup_ngram_jaccard", 0.5)]:
        got = rows(getattr(entry_queries, query)(spark, str(tmp_path)))
        want = rows(jaccard_verify(all_pairs, sh, threshold=threshold))
        assert got == want, query
        assert {(a, b) for a, b, _ in got} >= {(0, 1), (0, 2), (1, 2), (3, 4)}, query


def test_vocab_lut_wide_span_family():
    # 12 distinct span lengths: would overflow the old uint8 LUT (bit 8+)
    import numpy as np
    import pyarrow.compute as pc

    from knowledge_graph_integration_rag_biomedical_qna_spark.core.vectorized import (
        _ngram_masks,
        _vocab_arrays,
    )

    import pyarrow as pa

    keys = pa.array([" ".join(f"w{k}" for _ in range(k)) for k in range(1, 13)])
    arrays = _vocab_arrays(keys)
    union, lut, bit_of = arrays["_union"]
    assert lut.dtype == np.uint64
    assert max(bit_of.values()) == 1 << 11
    # tokens of the 12-gram key: mask for span 12 must hit at position 0
    toks = ["w12"] * 12
    values = pa.array(toks, type=pa.string())
    sent_of = np.zeros(len(toks), dtype=np.int64)
    masks = _ngram_masks(values, sent_of, arrays, pc)
    by_span = {k: m for k, m, _keys, _pos in masks}
    assert by_span[12][0], "12-gram mask lost under the widened LUT"
    assert not by_span[1].any()  # 'w12' alone is not a 1-gram key


def test_vocab_lut_guard_raises_past_64_spans():
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.vectorized import (
        _vocab_arrays,
    )

    import pyarrow as pa

    keys = pa.array([" ".join(["k"] * k) for k in range(1, 66)])
    with pytest.raises(ValueError, match="span lengths"):
        _vocab_arrays(keys, max_span=65)
    assert len(_vocab_arrays(keys)) == 65  # 64 spans and the union
