"""Tests for training-data operators: dedup, similarity search, text analysis,
multimodal plumbing — over the driver-provided sf0.001 tables."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    simhash,
    simhash_near_dups,
    with_shingles,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.multimodal import (
    decode_media,
    documents_as_media,
    sample_frames,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk,
    ivf_topk,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.text_analysis import (
    analyze_documents,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    reps = exact_dedup(docs)
    n_docs = docs.count()
    assert reps.agg(F.sum("n_dups")).first()[0] == n_docs
    assert reps.count() == docs.select("text").distinct().count()


def test_minhash_contains_exact_dups(spark, docs):
    # plant an exact duplicate pair and a near-duplicate pair
    base = docs.limit(5)
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    near = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tail")).alias("text"),
        "lang", "source", "n_chars",
    )
    all_docs = docs.unionByName(dup).unionByName(near)
    pairs = minhash_dedup(all_docs, n=3, num_hashes=16, bands=4, threshold=0.6).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].itertuples(index=False)))
    for i in range(5):
        assert (i, i + 100000) in got, f"exact dup pair {i} missed"
    assert all(pairs["jaccard"] <= 1.0) and all(pairs["jaccard"] >= 0.6)


def test_minhash_signature_determinism(spark, docs):
    sh = with_shingles(docs.limit(20))
    s1 = minhash_signatures(sh).toPandas().sort_values("id").reset_index(drop=True)
    s2 = minhash_signatures(sh).toPandas().sort_values("id").reset_index(drop=True)
    assert s1.equals(s2)


def test_simhash_near_dups(spark, docs):
    base = docs.limit(10)
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    sim = simhash(base.unionByName(dup))
    pairs = simhash_near_dups(sim, band_bits=16, bands=4).toPandas()
    exact = pairs[pairs["hamming"] == 0]
    got = set(map(tuple, exact[["id_a", "id_b"]].itertuples(index=False)))
    for i in range(10):
        assert (i, i + 100000) in got


def test_embedding_near_dups_finds_planted(spark, emb):
    # plant: copy of vec 0 with id 999999 (cosine 1.0, same label block)
    v0 = emb.filter("vec_id = 0").select(
        F.lit(999999).cast("long").alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_near_dups(emb.unionByName(v0), threshold=0.999).toPandas()
    assert ((pairs["id_a"] == 0) & (pairs["id_b"] == 999999)).any()


def test_cosine_topk_matches_numpy(spark, emb):
    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = cosine_topk(emb, queries, k=5).toPandas()
    pdf = emb.toPandas()
    M = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
    ids = pdf["vec_id"].values
    norms = np.linalg.norm(M, axis=1)
    for q in range(3):
        qi = int(np.where(ids == q)[0][0])
        cos = (M @ M[qi]) / (norms * norms[qi])
        cos[qi] = -np.inf  # exclude self
        order = np.lexsort((ids, -cos))[:5]
        want = [int(ids[i]) for i in order]
        g = got[got["query_id"] == q].sort_values("rank")
        assert g["vec_id"].tolist() == want, f"query {q}"
        np.testing.assert_allclose(
            g["cosine"].values, np.sort(cos[order])[::-1], rtol=0, atol=1e-4
        )


def test_ivf_recall_vs_bruteforce(spark, emb):
    queries = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=10).toPandas()
    assignments, centroids = build_ivf_index(emb, n_centroids=8)
    approx = ivf_topk(assignments, centroids, queries, k=10, nprobe=4).toPandas()
    # recall@10 over 10 queries should be decent even with tiny nprobe
    hits = 0
    for q in range(10):
        e = set(exact[exact["query_id"] == q]["vec_id"])
        a = set(approx[approx["query_id"] == q]["vec_id"])
        hits += len(e & a)
    recall = hits / (10 * 10)
    assert recall >= 0.5, recall


def test_text_analysis_columns(spark, docs):
    out = analyze_documents(docs).toPandas()
    assert (out["n_tokens"] > 0).all()
    assert ((out["punct_ratio"] >= 0) & (out["punct_ratio"] <= 1)).all()
    assert ((out["quality"] >= 0) & (out["quality"] <= 1)).all()
    assert (out["fingerprint"] >= 0).all()
    # docs are the same vocabulary soup -> lang_id mostly 'en' or 'und'
    assert set(out["lang_pred"].unique()) <= {"en", "fr", "es", "de", "und"}
    # fingerprint is deterministic and text-keyed
    dup_fp = out.groupby("text")["fingerprint"].nunique()
    assert (dup_fp == 1).all()


def test_multimodal_decode_plumbing(spark, docs):
    media = documents_as_media(docs.limit(50))
    decoded = decode_media(media, fake=True)
    pdf = decoded.toPandas()
    assert len(pdf) == 50
    assert (pdf["n_bytes"] > 0).all()
    img = pdf[pdf["media_type"] == "image"]
    assert img["width"].notna().all() and (img["n_frames"] == 1).all()
    aud = pdf[pdf["media_type"] == "audio"]
    assert aud["width"].isna().all()
    vid = pdf[pdf["media_type"] == "video"]
    assert (vid["n_frames"] >= 1).all()
    assert pdf["feature"].map(len).eq(8).all()
    frames = sample_frames(decoded, every_n=8).toPandas()
    assert (frames["frame_idx"] % 8 == 0).all()


def test_multimodal_real_decode_is_stubbed(spark, docs):
    media = documents_as_media(docs.limit(1))
    with pytest.raises(Exception) as ei:
        decode_media(media, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_embedding_near_dups_sign_lsh_blocking(spark, emb):
    """block_col=None path: sign-LSH bucket blocking still finds the planted
    exact duplicate (same vector -> same bucket by construction)."""
    v0 = emb.filter("vec_id = 0").select(
        F.lit(999999).cast("long").alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_near_dups(
        emb.unionByName(v0), threshold=0.999, block_col=None
    ).toPandas()
    assert ((pairs["id_a"] == 0) & (pairs["id_b"] == 999999)).any()


def test_simhash_rotated_bands_catch_prefix_bit_flip(spark, docs):
    """The r1 single-prefix bucketing missed pairs whose only differing bit
    fell INSIDE the prefix. Rotated banding guarantees hamming-1 recall:
    plant a vector pair differing in bit 31 (top of the old prefix) and in
    bit 0, and require both pairs as candidates."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        simhash_near_dups,
    )

    sim = spark.createDataFrame(
        [
            (1, 0b1010_1100_0011_0101_1111_0000_1010_0110),
            (2, 0b1010_1100_0011_0101_1111_0000_1010_0110 ^ (1 << 31)),  # prefix bit
            (3, 0b1010_1100_0011_0101_1111_0000_1010_0110 ^ 1),          # low bit
        ],
        "id long, simhash long",
    )
    pairs = simhash_near_dups(sim, band_bits=16, bands=4).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b", "hamming"]].itertuples(index=False)))
    assert (1, 2, 1) in got, got  # old prefix bucketing never produced this
    assert (1, 3, 1) in got, got


def test_embedding_near_dups_multiprobe_crosses_hyperplane(spark):
    """block_col=None: a near-dup pair that lands in DIFFERENT sign buckets
    (one hyperplane separates them) is still found via hamming-1 multi-probe,
    and candidate generation is sub-quadratic on a planted corpus."""
    import numpy as np

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        _hyperplane_signs,
        embedding_near_dups,
    )

    dim, b = 16, 8
    planes = np.array(_hyperplane_signs(b, dim))
    rng = np.random.default_rng(7)
    rows = []
    for i in range(400):
        v = rng.normal(size=dim)
        rows.append((i, [float(x) for x in v], "x"))
    # planted pair: v straddling plane 0 -> tiny positive / tiny negative dot
    base = rng.normal(size=dim)
    base -= planes[0] * (planes[0] @ base) / (planes[0] @ planes[0])  # on plane 0
    eps = planes[0] / np.linalg.norm(planes[0])
    va, vb = base + 1e-3 * eps, base - 1e-3 * eps
    sig_a = sum((1 << j) for j in range(b) if planes[j] @ va > 0)
    sig_b = sum((1 << j) for j in range(b) if planes[j] @ vb > 0)
    assert sig_a != sig_b and bin(sig_a ^ sig_b).count("1") == 1  # truly cross-bucket
    rows.append((100001, [float(x) for x in va], "x"))
    rows.append((100002, [float(x) for x in vb], "x"))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    pairs = embedding_near_dups(emb, threshold=0.999, block_col=None, num_planes=b).toPandas()
    assert ((pairs["id_a"] == 100001) & (pairs["id_b"] == 100002)).any(), pairs

    # sub-quadratic blocking: count candidate rows before the cosine filter
    from pyspark.sql import functions as SF

    sig = None  # candidate count proxy: bucket sizes from the signature
    # recompute signatures exactly as the operator does
    sigs = []
    for i, v, _ in rows:
        s = sum((1 << j) for j in range(b) if planes[j] @ np.array(v) > 0)
        sigs.append(s)
    from collections import Counter

    c = Counter(sigs)
    n = len(rows)
    # each left row probes b+1 buckets; candidates = sum over probes of bucket size
    cand = sum((c[s] + sum(c[s ^ (1 << j)] for j in range(b))) for s in sigs)
    assert cand < n * n / 4, (cand, n * n)  # far below all-pairs


def test_minhash_fast_family_matches_md5_on_planted_dups(spark, docs):
    """xxhash64 production family: identical shingle sets give identical
    signatures, so exact duplicates are always caught; verified output on the
    planted-dup corpus equals the md5 family's."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        minhash_dedup,
    )

    base = docs.limit(20)
    dup = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    all_docs = base.unionByName(dup)
    fast = minhash_dedup(all_docs, n=3, num_hashes=16, bands=4, threshold=0.6,
                         family="xxhash64").toPandas()
    slow = minhash_dedup(all_docs, n=3, num_hashes=16, bands=4, threshold=0.6,
                         family="md5").toPandas()
    key = ["id_a", "id_b", "jaccard"]
    assert sorted(map(tuple, fast[key].itertuples(index=False))) == sorted(
        map(tuple, slow[key].itertuples(index=False))
    )
    for i in range(20):
        assert ((fast["id_a"] == i) & (fast["id_b"] == i + 100000)).any()


def test_lang_id_tie_breaks_ascending(spark):
    """Equal marker counts resolve to the alphabetically FIRST language —
    the r1 implementation picked the last and only agreed with its oracle
    because the SQL mirrored the same bug."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.text_analysis import (
        lang_id,
    )

    df = spark.createDataFrame(
        [
            (1, "the die"),        # en=1 (the), de=1 (die) -> 'de'
            (2, "el le"),          # es=1, fr=1 -> 'es'
            (3, "xyzzy plugh"),    # nothing -> 'und'
            (4, "the the der"),    # en=2 > de=1 -> 'en'
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang"] for r in df.select("doc_id", lang_id("text").alias("lang")).collect()}
    assert got == {1: "de", 2: "es", 3: "und", 4: "en"}, got


def test_ivf_sampled_kmeans_recall_and_determinism(spark, emb):
    """Sampled-training IVF (train_sample < corpus, 2 Lloyd iterations,
    md5-ranked seeds): recall vs brute force holds, every vector gets exactly
    one centroid, and two builds are identical (fully deterministic)."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        ivf_topk,
    )

    queries = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=10).toPandas()
    a1, c1 = build_ivf_index(emb, n_centroids=8, lloyd_iters=2, train_sample=200)
    a2, c2 = build_ivf_index(emb, n_centroids=8, lloyd_iters=2, train_sample=200)
    n = emb.count()
    assert a1.count() == n  # every vector assigned exactly once
    p1 = a1.select("vec_id", "centroid_id").toPandas().sort_values("vec_id").reset_index(drop=True)
    p2 = a2.select("vec_id", "centroid_id").toPandas().sort_values("vec_id").reset_index(drop=True)
    assert p1.equals(p2)

    approx = ivf_topk(a1, c1, queries, k=10, nprobe=4).toPandas()
    hits = 0
    for q in range(10):
        e = set(exact[exact["query_id"] == q]["vec_id"])
        a = set(approx[approx["query_id"] == q]["vec_id"])
        hits += len(e & a)
    assert hits / 100 >= 0.5, hits / 100


def test_simhash_python_oracle_matches_spark_on_tricky_text(spark):
    """The dedup_simhash driver oracle is the pure-python crc32 pipeline in
    oracle/materialize.py — pin bit-equality against the Spark column
    implementation on casing/unicode/whitespace edge cases (a mismatch here
    would fail the driver's hash gate on future testdata)."""
    import pandas as pd

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import simhash

    texts = [
        "Plain ASCII text with MIXED Case tokens",
        "  leading and trailing   whitespace  ",
        "tabs\tand\nnewlines\r\nmix",
        "unicode café naïve Über STRASSE",
        "turkish I İstanbul i",
        "emoji \U0001F600 between tokens",
        "a",
        "punct-only !!! ... ???",
        "hyphen-ated and apostrophe's tokens--doubled",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["id"]: r["simhash"] for r in simhash(docs).collect()}

    import re
    import zlib

    import numpy as np

    for i, t in enumerate(texts):
        toks = re.split(r"\s+", str(t).lower().strip())
        votes = np.zeros(32, dtype=np.int64)
        for tok in toks:
            h = zlib.crc32(tok.encode("utf-8"))
            for b in range(32):
                votes[b] += 1 if (h >> b) & 1 else -1
        want = sum(1 << b for b in range(32) if votes[b] > 0)
        assert got[i] == want, (i, t, got[i], want)


def test_lsh_hot_bucket_cap_bounds_degenerate_corpus(spark):
    """VERDICT r2 item 6: 10k identical docs = one band bucket; without a cap
    the bucket self-join is ~50M pairs. With max_bucket set, the join stays
    bounded, a drop line is logged, and the identical docs still come out as
    duplicate pairs (rep-grouped, then Jaccard-verified at 1.0)."""
    import warnings

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        flush_hot_warnings,
        minhash_dedup,
    )

    n = 10_000
    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pairs = minhash_dedup(docs, n=3, threshold=0.9, family="xxhash64",
                              max_bucket=100).toPandas()
        # the drop line rides the job as an Observation metric (no eager
        # count job) and is emitted by a waiter thread — drain it
        flush_hot_warnings()
    assert any("max_bucket" in str(w.message) for w in caught), "no drop line logged"
    # every doc pairs with the representative (min id) exactly once: n-1 pairs
    assert len(pairs) == n - 1
    assert (pairs["id_a"] == 0).all()
    assert (pairs["jaccard"] == 1.0).all()


def test_simhash_hot_bucket_cap(spark):
    import warnings

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        simhash,
        simhash_near_dups,
    )

    n = 2_000
    rows = [(i, "identical text for the simhash cap test") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sim = simhash(docs)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pairs = simhash_near_dups(sim, max_bucket=50).toPandas()
        from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
            flush_hot_warnings,
        )

        flush_hot_warnings()
    assert any("max_bucket" in str(w.message) for w in caught)
    assert len(pairs) == n - 1
    assert (pairs["hamming"] == 0).all()


def test_embedding_near_dups_loose_threshold_routes_to_bruteforce(spark, emb):
    """VERDICT r2 item 8: below the sign-LSH design floor the un-blocked path
    must warn and fall back to exact all-pairs (full recall)."""
    import warnings

    small = emb.limit(60)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = embedding_near_dups(small, threshold=0.5, block_col=None).toPandas()
    assert any("brute-force" in str(w.message) for w in caught)
    # exact reference: all pairs with cosine >= 0.5
    import numpy as np

    pdf = small.select("vec_id", "embedding").toPandas()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    nrm = np.linalg.norm(mat, axis=1)
    want = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j]:
                c = round(float(mat[i] @ mat[j]) / float(nrm[i] * nrm[j]), 6)
                if c >= 0.5:
                    want.add((ids[i], ids[j]))
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    assert got_pairs == want


def test_embedding_near_dups_empty_input(spark):
    """ADVICE r2: empty input must return an empty result, not crash on
    first()[0]."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>, label string")
    out = embedding_near_dups(empty, threshold=0.95, block_col=None)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "cosine"]


def test_minhash_fast_oracle_corpus_precondition(spark, docs):
    """ADVICE r2: dedup_minhash_pairs_fast is gated against the EXACT
    all-pairs Jaccard oracle at threshold 0.35, which is only sound while the
    banded-LSH (8x2, xxhash64) recall is exactly 1.0 on this corpus. That
    holds because every true pair sits at j >= 0.8 (miss prob (1-j^2)^8
    <= 2.8e-4, and measured recall is 1.0) — this test pins that corpus
    property so regenerated testdata that violates it fails HERE with an
    explanation, not probabilistically in the driver gate."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        jaccard_verify,
        with_shingles,
    )

    sh = with_shingles(docs, n=3)
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    cand = (
        a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )
    true_pairs = jaccard_verify(cand, sh, threshold=0.35).toPandas()
    assert len(true_pairs) > 0, "corpus lost its planted near-dups"
    min_j = float(true_pairs["jaccard"].min())
    assert min_j >= 0.8, (
        f"corpus precondition violated: a true pair at jaccard={min_j} < 0.8 "
        "makes the exact all-pairs oracle for dedup_minhash_pairs_fast flaky "
        "(banded-LSH miss probability is no longer negligible) — raise the "
        "query/oracle threshold or re-band"
    )


def test_multimodal_real_png_and_wav_decode(spark):
    """VERDICT r2 item 9: real pure-python codecs. A genuine zlib-built PNG
    and a hand-built RIFF/WAVE decode through the SAME mapInPandas plumbing
    as the stub path (fake=False)."""
    import struct
    import zlib

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.multimodal import (
        decode_media,
    )

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body)
        )

    w, h = 3, 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + bytes(3 * w) for _ in range(h))  # filter 0 rows
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )

    n_samples, channels, bits, rate = 40, 1, 16, 8000
    data = bytes(n_samples * channels * bits // 8)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
                      channels * bits // 8, bits)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )

    media = spark.createDataFrame(
        [(1, bytearray(png), "image", {}), (2, bytearray(wav), "audio", {})],
        "media_id long, payload binary, media_type string, meta map<string,string>",
    )
    out = {r["media_id"]: r for r in decode_media(media, fake=False).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["n_frames"]) == (3, 2, 1)
    assert out[2]["n_frames"] == n_samples
    assert out[2]["width"] is None


def test_connected_components_transitive_chain(spark):
    """Pairs A-B and B-C (A,C never directly paired) must land in ONE group
    with group_id = min id; disjoint pair D-E gets its own group; convergence
    needs >1 hash-to-min iteration on the 1-2-3-4-5 path graph."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    got = {r["id"]: r["group_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_random_graphs_match_union_find(spark):
    """Property check on deterministic pseudo-random graphs: hash-to-min
    components == a classic union-find reference, across sizes/densities
    (including multi-iteration diameters)."""
    import hashlib

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        connected_components,
    )

    def h(i):
        return int.from_bytes(hashlib.md5(str(i).encode()).digest()[:4], "big")

    for n, m, seed in [(50, 30, 1), (200, 150, 2), (200, 400, 3)]:
        pairs = []
        for e in range(m):
            a = h(seed * 10_000 + e) % n
            b = h(seed * 10_000 + e + 500_000) % n
            if a != b:
                pairs.append((min(a, b), max(a, b)))
        pairs = sorted(set(pairs))
        # union-find reference
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        in_graph = {x for p in pairs for x in p}
        want = {x: find(x) for x in in_graph}
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {r["id"]: r["group_id"] for r in connected_components(df).collect()}
        assert got == want, (n, m, seed)


def test_inverted_index_hot_shingle_cap(spark):
    """A boilerplate shingle shared by every doc would make the exact
    inverted-index join quadratic; with max_shingle_df it leaves candidate
    generation (logged), while genuinely similar pairs still surface via
    their other shared shingles."""
    import warnings

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        flush_hot_warnings,
        inverted_index_candidates,
        with_shingles,
    )

    boiler = "all rights reserved by the site"
    rows = [(i, f"document number {i} unique content here. {boiler}") for i in range(50)]
    # plant one true near-dup pair sharing non-boilerplate shingles
    rows.append((100, "the planted duplicate text body is long enough here"))
    rows.append((101, "the planted duplicate text body is long enough here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = with_shingles(docs, n=3)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        cand = inverted_index_candidates(sh, max_shingle_df=10).toPandas()
        flush_hot_warnings()
    assert any("max_shingle_df" in str(w.message) for w in caught)
    got = set(zip(cand["id_a"], cand["id_b"]))
    assert (100, 101) in got
    # the 50 boilerplate-only docs must NOT produce ~1225 cross pairs
    assert len(got) < 100


def test_inverted_index_hot_shingle_cap_all_hot_corpus(spark):
    """Every shingle over the cap: no posting survives, so no pair does
    either. The drop warning must still arrive with the full count (50 docs
    x 4 shingles), although the pair shuffle comes out empty."""
    import warnings

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        flush_hot_warnings,
        inverted_index_candidates,
        with_shingles,
    )

    rows = [(i, "all rights reserved by the site") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        cand = inverted_index_candidates(with_shingles(docs, n=3), max_shingle_df=10).toPandas()
        flush_hot_warnings()
    assert len(cand) == 0
    msgs = [str(w.message) for w in caught if "max_shingle_df" in str(w.message)]
    assert msgs and msgs[0].startswith("inverted_index_candidates: 200 posting row(s)"), msgs


def test_ivf_reference_design_point_768d(spark):
    """IVF at the reference's vector geometry (768-d MedCPT embeddings,
    retrieve.py:22,34): deterministic clustered corpus, 64 lists, nprobe 8 —
    recall@10 vs brute force stays high, the index is partition-order
    invariant, and no embedding array rides a driver TakeOrdered."""
    import numpy as np

    rng = np.random.default_rng(42)
    n_clusters, per, dim = 16, 60, 768
    centers = rng.standard_normal((n_clusters, dim)) * 4
    vecs = (centers.repeat(per, axis=0)
            + rng.standard_normal((n_clusters * per, dim))).astype(np.float32)
    rows = [(int(i), vecs[i].tolist()) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(8)
    queries = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=10).toPandas()
    assignments, centroids = build_ivf_index(emb, n_centroids=64, train_sample=500)
    approx = ivf_topk(assignments, centroids, queries, k=10, nprobe=8).toPandas()
    hits = 0
    for q in range(8):
        e = set(exact[exact["query_id"] == q]["vec_id"])
        a = set(approx[approx["query_id"] == q]["vec_id"])
        hits += len(e & a)
    assert hits / 80 >= 0.7, hits / 80
    # no TakeOrdered ships vectors: only the two-column (vec_id, rank) pick
    plan = centroids._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "TakeOrderedAndProject" in line:
            assert "embedding" not in line and ", v#" not in line, line
    # partition-order invariance at the design point
    a2, c2 = build_ivf_index(emb.repartition(3), n_centroids=64, train_sample=500)
    p1 = centroids.toPandas().sort_values("centroid_id").reset_index(drop=True)
    p2 = c2.toPandas().sort_values("centroid_id").reset_index(drop=True)
    assert all(list(x) == list(y) for x, y in zip(p1["c"], p2["c"]))


def test_cosine_topk_matmul_kernel_parity_768d(spark):
    """The adaptive matmul kernel (auto at >= 256-d) must return the same
    top-k sets as the engine-reproducible fold kernel, with cosines equal to
    within a last-ulp-at-6dp rounding tie (matmul sums in BLAS order; the
    fold is the sequential oracle twin). This is the r3 verdict's residual
    interpreted-expression flag, closed with a measured-equivalent path."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 768
    centers = rng.standard_normal((8, dim)) * 4
    vecs = (centers.repeat(30, axis=0)
            + rng.standard_normal((240, dim))).astype(np.float32)
    rows = [(int(i), vecs[i].tolist()) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(5)
    queries = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    fold = cosine_topk(emb, queries, k=10, kernel="fold").toPandas()
    mm = cosine_topk(emb, queries, k=10, kernel="matmul").toPandas()
    assert len(fold) == len(mm) == 40
    for q in range(4):
        f = fold[fold["query_id"] == q].sort_values("rank")
        m = mm[mm["query_id"] == q].sort_values("rank")
        assert list(f["vec_id"]) == list(m["vec_id"])
        assert np.max(np.abs(f["cosine"].to_numpy() - m["cosine"].to_numpy())) <= 2e-6


def test_ivf_topk_matmul_kernel_parity_768d(spark):
    """IVF scoring through the matmul kernel must return the same top-k sets
    as the fold kernel for the same index (identical probes by construction;
    only the candidate scoring path differs)."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim = 768
    centers = rng.standard_normal((8, dim)) * 4
    vecs = (centers.repeat(30, axis=0)
            + rng.standard_normal((240, dim))).astype(np.float32)
    rows = [(int(i), vecs[i].tolist()) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(5)
    queries = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assignments, centroids = build_ivf_index(emb, n_centroids=16, train_sample=None)
    fold = ivf_topk(assignments, centroids, queries, k=10, nprobe=4, kernel="fold").toPandas()
    mm = ivf_topk(assignments, centroids, queries, k=10, nprobe=4, kernel="matmul").toPandas()
    assert len(fold) == len(mm) > 0
    for q in range(4):
        f = fold[fold["query_id"] == q].sort_values("rank")
        m = mm[mm["query_id"] == q].sort_values("rank")
        assert list(f["vec_id"]) == list(m["vec_id"])
        assert np.max(np.abs(f["cosine"].to_numpy() - m["cosine"].to_numpy())) <= 2e-6


def test_wav_malformed_fmt_rejected_not_crash():
    """A fmt chunk declaring bits-per-sample < 8 (frame size 0) must reject
    the payload (None) instead of ZeroDivisionError-ing the executor task."""
    import struct

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.multimodal import (
        _parse_wav,
    )

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 4)  # 4 bits/sample
    data = b"\x00" * 16
    payload = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    assert _parse_wav(payload) is None
    # and a well-formed 16-bit mono file still parses
    fmt_ok = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    ok = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt_ok) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt_ok)) + fmt_ok
        + b"data" + struct.pack("<I", len(data)) + data
    )
    assert _parse_wav(ok) == 8


def test_cosine_topk_zero_norm_vector_excluded_both_kernels(spark):
    """A zero-norm embedding has undefined cosine: the fold kernel's
    division yields NULL, the matmul kernel 0/0 NaN — and Spark's DESC
    window ranks NaN ABOVE every real value. Both kernels must exclude such
    candidates entirely (r4 review finding)."""
    import numpy as np

    rng = np.random.default_rng(3)
    dim = 300  # >= MATMUL_MIN_DIM so 'auto' would pick matmul
    vecs = rng.standard_normal((30, dim)).astype(np.float32)
    vecs[7] = 0.0  # the zero-norm candidate
    rows = [(int(i), vecs[i].tolist()) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(3)
    queries = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    fold = cosine_topk(emb, queries, k=29, kernel="fold").toPandas()
    mm = cosine_topk(emb, queries, k=29, kernel="matmul").toPandas()
    assert 7 not in set(fold["vec_id"]) and 7 not in set(mm["vec_id"])
    assert list(fold.sort_values("rank")["vec_id"]) == list(mm.sort_values("rank")["vec_id"])
    assert fold["cosine"].notna().all() and np.isfinite(mm["cosine"]).all()


def test_matmul_query_collect_guard_routes_to_fold(spark, monkeypatch):
    """The matmul kernels collect the query side into the task closure; that
    collect is size-guarded (r4 verdict item 2): above MATMUL_MAX_QUERY_ROWS
    the kernel must warn and fall back to the distributed fold/broadcast
    path instead of materializing an unbounded query table on the driver.
    Exercised by shrinking the cap so a 5-query batch overflows it; results
    must equal the fold kernel's exactly (it IS the fold kernel after the
    route)."""
    import warnings as _w

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators import similarity

    rng = np.random.default_rng(11)
    dim = 300  # >= MATMUL_MIN_DIM: matmul is the natural route
    vecs = rng.standard_normal((40, dim)).astype(np.float32)
    rows = [(int(i), vecs[i].tolist()) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(3)
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    fold = cosine_topk(emb, queries, k=5, kernel="fold").toPandas()

    monkeypatch.setattr(similarity, "MATMUL_MAX_QUERY_ROWS", 3)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        guarded = cosine_topk(emb, queries, k=5, kernel="matmul").toPandas()
    assert any("falling back" in str(c.message) for c in caught), (
        "overflow route must warn"
    )
    f = fold.sort_values(["query_id", "rank"]).reset_index(drop=True)
    g = guarded.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(f["vec_id"]) == list(g["vec_id"])
    assert (f["cosine"] == g["cosine"]).all()  # same kernel -> bit-equal

    # IVF: probe rows = queries x nprobe overflow the same guard
    assignments, centroids = build_ivf_index(emb, n_centroids=4, train_sample=None)
    ivf_fold = ivf_topk(assignments, centroids, queries, k=5, nprobe=2, kernel="fold").toPandas()
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        ivf_guarded = ivf_topk(
            assignments, centroids, queries, k=5, nprobe=2, kernel="matmul"
        ).toPandas()
    assert any("falling back" in str(c.message) for c in caught)
    a = ivf_fold.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = ivf_guarded.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(a["vec_id"]) == list(b["vec_id"])
    assert (a["cosine"] == b["cosine"]).all()

    # under the cap the matmul path still engages (no warning)
    monkeypatch.setattr(similarity, "MATMUL_MAX_QUERY_ROWS", 100_000)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        mm = cosine_topk(emb, queries, k=5, kernel="matmul").toPandas()
    assert not any("falling back" in str(c.message) for c in caught)
    m = mm.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(f["vec_id"]) == list(m["vec_id"])


def test_hot_warn_shared_poller_no_thread_leak(spark):
    """Capped plans that are built and never run start no thread, and
    flush_hot_warnings reads them in the calling thread without waiting:
    they stay queued and the flush returns at once."""
    import threading
    import time

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        flush_hot_warnings,
        lsh_candidate_pairs,
        minhash_signatures,
        with_shingles,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(8)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(with_shingles(docs), num_hashes=16)
    before = threading.active_count()
    plans = [
        lsh_candidate_pairs(sigs, num_hashes=16, bands=4, max_bucket=2)
        for _ in range(12)  # plan-only: never evaluated
    ]
    t0 = time.monotonic()
    flush_hot_warnings()
    assert time.monotonic() - t0 < 0.5
    assert threading.active_count() == before
    hot_threads = [t for t in threading.enumerate() if t.name.startswith("hotwarn")]
    assert not hot_threads, [t.name for t in hot_threads]
    assert plans  # keep references alive through the census


def test_observation_private_handle_pinned(spark):
    """flush_hot_warnings' non-blocking probe uses the classic Observation's
    private JVM handle (obs._jo.future().isCompleted), and it relies on the
    row being set once the listener bus has delivered the events of the
    observed action (LiveListenerBus.waitUntilEmpty). Pin both on the
    installed Spark: an upgrade that breaks either must fail HERE, loudly —
    not silently stop delivering hot-bucket warnings."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        _obs_ready,
    )

    obs = Observation("pin_probe")
    df = spark.range(10).observe(obs, F.count(F.lit(1)).alias("n_hot_rows"))
    # before any action: handle exists and reports not-ready (no exception
    # swallowed into a permanent False)
    assert hasattr(obs, "_jo")
    assert not obs._jo.future().isCompleted()
    assert _obs_ready(obs) is False
    df.count()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert _obs_ready(obs) is True


def test_minhash_family_recall_profile_near_dups(spark):
    """r4 advice: the xxhash64 family draws different minhash permutations
    than the md5 family, so the two LSH candidate sets are different random
    draws with the same expected recall curve — identical-doc pairs are
    caught by both, but a BORDERLINE near-dup pair can be caught by one and
    missed by the other, and exact verification can only reject candidates,
    never recover banding misses. Pin that profile on a near-dup (not
    identical-dup) corpus: both families have precision 1.0 vs the exact
    all-pairs oracle, recall >= 0.75, and every family-disagreement pair is
    borderline (exact Jaccard close to the banding threshold). bands=8
    (r=2, banding s* ~ 0.35) so the expected recall at the 0.5 verification
    threshold is high and misses measure family-draw variance, not the
    banding design point."""
    import itertools

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        minhash_dedup,
    )

    rng = np.random.default_rng(5)
    vocab = [f"w{i:02d}" for i in range(60)]
    base_docs = {}
    for b in range(16):
        words = list(rng.choice(vocab, size=20, replace=True))
        base_docs[f"b{b}"] = words
    rows = []
    doc_words = {}
    i = 0
    for name, words in base_docs.items():
        for variant in range(2):  # base + one perturbed near-dup
            w = list(words)
            if variant:
                # perturb 1-3 words: spans exact 3-gram Jaccard ~0.33-0.85,
                # i.e. both sides of the 16-hash/4-band threshold region
                for pos in rng.choice(20, size=1 + (i % 3), replace=False):
                    w[pos] = str(rng.choice(vocab))
            doc_words[i] = w
            rows.append((i, " ".join(w)))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)

    def shingle_set(words, n=3):
        if len(words) < n:
            return {" ".join(words)}
        return {" ".join(words[j:j + n]) for j in range(len(words) - n + 1)}

    threshold = 0.5
    exact = {}
    for a, b in itertools.combinations(sorted(doc_words), 2):
        sa, sb = shingle_set(doc_words[a]), shingle_set(doc_words[b])
        j = len(sa & sb) / len(sa | sb)
        if j > 0:
            exact[(a, b)] = j
    truth = {p for p, j in exact.items() if j >= threshold}
    assert len(truth) >= 8, "corpus must actually contain near-dup pairs"
    # the corpus must contain BORDERLINE pairs, or the test proves nothing
    assert any(threshold <= j < 0.75 for j in exact.values())

    got = {}
    for family in ("md5", "xxhash64"):
        pdf = minhash_dedup(docs, threshold=threshold, family=family, bands=8).toPandas()
        pairs = {
            (min(a, b), max(a, b))
            for a, b in zip(pdf["id_a"].astype(int), pdf["id_b"].astype(int))
        }
        got[family] = pairs
        assert pairs <= truth, f"{family}: verification must kill false positives"
        recall = len(pairs & truth) / len(truth)
        assert recall >= 0.75, f"{family}: recall {recall:.2f} on near-dup corpus"

    # disagreements allowed, but only in the borderline band near the LSH
    # threshold — a CLEAR duplicate missed by one family would be a bug
    for p in got["md5"] ^ got["xxhash64"]:
        assert exact[p] < 0.85, (p, exact[p])
