"""Tests for training-data operators: dedup, similarity search, text analysis,
multimodal plumbing — over the driver-provided sf0.001 tables."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
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
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    token_count,
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
    out = docs.select(
        "text",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_subtokens"),
        lang_id("text").alias("lang_pred"),
        doc_fingerprint("text").alias("fingerprint"),
    ).toPandas()
    assert (out["n_tokens"] > 0).all() and (out["n_subtokens"] > 0).all()
    assert (out["fingerprint"] >= 0).all()
    # docs are the same vocabulary soup -> lang_id mostly 'en' or 'und'
    assert set(out["lang_pred"].unique()) <= {"en", "fr", "es", "de", "und"}
    # fingerprint is deterministic and text-keyed
    dup_fp = out.groupby("text")["fingerprint"].nunique()
    assert (dup_fp == 1).all()
    # whitespace tokens vs alpha runs, digit runs and punctuation singletons
    small = spark.createDataFrame([("Aspirin, 81mg treats pain.",), ("   ",)], "text string")
    got = small.select(token_count("text"), bpe_ish_token_count("text")).collect()
    assert [tuple(r) for r in got] == [(4, 7), (0, 0)]


def test_multimodal_decode_plumbing(spark, docs):
    media = documents_as_media(docs.limit(50))
    decoded = decode_media(media)
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


def test_embedding_near_dups_loose_threshold_routes_to_bruteforce(spark, emb):
    """At the loose threshold `ann_threshold_pairs` runs (0.5), the blocked
    self-join keeps full recall: its pairs equal the exact all-pairs
    reference restricted to same-label pairs. No two corpus vectors are that
    close, so two noisy copies of vector 0 are planted, one with its label
    and one with another, which must not pair with it."""
    base = emb.filter("vec_id < 60").select("vec_id", "embedding", "label")
    v0 = base.filter("vec_id = 0").first()
    rng = np.random.default_rng(1)
    x0 = np.asarray(v0["embedding"], dtype=np.float64)

    def noisy():
        return (x0 + 0.3 * np.abs(x0).mean() * rng.standard_normal(len(x0))).tolist()

    planted = spark.createDataFrame(
        [(900001, noisy(), v0["label"]), (900002, noisy(), v0["label"] + 1)], base.schema
    )
    small = base.unionByName(planted)
    got = embedding_near_dups(small, threshold=0.5, block_col="label").toPandas()
    pdf = small.toPandas()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    nrm = np.linalg.norm(mat, axis=1)
    want, cross = set(), set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j]:
                c = round(float(mat[i] @ mat[j]) / float(nrm[i] * nrm[j]), 6)
                if c >= 0.5:
                    (want if labels[i] == labels[j] else cross).add((ids[i], ids[j]))
    assert (0, 900001) in want and (0, 900002) in cross
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    assert got_pairs == want


def test_ann_threshold_pairs_equals_its_oracle_on_pairs_that_pass(spark, tmp_path):
    """`ann_threshold_pairs` and its DuckDB oracle agree, under
    tools/check_oracle.py's comparison, on an embeddings table where pairs
    pass the 0.5 threshold (at sf0.01 none does, so the gate there compares
    two empty results): same-label pairs above it, pairs below it, and one
    cross-label pair above it that label blocking must drop."""
    import os
    import sys

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import canon

    from knowledge_graph_integration_rag_biomedical_qna_spark.entry_queries import REGISTRY

    rows = [  # (vec_id, embedding, label)
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.9, 0.3, 0.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0, 0.0], 0),
        (4, [0.6, 0.2, 0.6, 0.2], 0),
        (5, [0.0, 1.0, 0.0, 0.0], 1),
        (6, [0.0, 0.8, 0.0, 0.6], 1),
        (7, [0.95, 0.05, 0.0, 0.0], 1),  # cosine 0.9986 with vec 1, another label
        (8, [0.0, 0.0, 0.0, 1.0], 2),
    ]
    ids, vecs, labels = zip(*rows)
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), str(tmp_path / "embeddings.parquet"))

    fn, sql = REGISTRY["ann_threshold_pairs"]
    df = fn(spark, str(tmp_path))
    got = canon([tuple(r) for r in df.collect()], df.columns)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{tmp_path / 'embeddings.parquet'}')")
    res = con.execute(sql)
    want = canon(res.fetchall(), [d[0] for d in res.description])
    assert got == want
    # non-empty: exactly the same-label pairs at or above 0.5 (canon orders
    # the columns by name: cosine, id_a, id_b)
    assert sorted(tuple(map(int, r[1:])) for r in got) == [
        (1, 2), (1, 4), (2, 4), (3, 4), (5, 6)], got


def test_embedding_near_dups_empty_input(spark):
    """ADVICE r2: empty input must return an empty result with the pair
    schema, not crash."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>, label string")
    out = embedding_near_dups(empty, threshold=0.95)
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
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import with_shingles
    from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.dedup import jaccard_verify

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


def test_connected_components_frees_its_snapshots(spark):
    """Each iteration's label snapshot and the edge table are local
    checkpoints, whose blocks `DataFrame.unpersist` does not reach. Once the
    result is read, one more RDD is stored than before: the returned labels."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        connected_components,
    )

    sc = spark.sparkContext._jsc.sc()
    before = len(sc.getRDDStorageInfo())
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 12)], "id_a long, id_b long")
    got = {r["id"]: r["group_id"] for r in connected_components(pairs).collect()}
    assert got == {i: 1 for i in range(1, 13)}
    assert len(sc.getRDDStorageInfo()) <= before + 1


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


def test_cosine_topk_zero_norm_vector_excluded_both_kernels(spark):
    """A zero-norm embedding has undefined cosine: the division yields NULL,
    which must never be ranked (r4 review finding). Checked on both scorers,
    exact `cosine_topk` and `ivf_topk`; with every list probed, IVF ranks
    the same candidates as the exact search."""
    import numpy as np

    rng = np.random.default_rng(3)
    dim = 300
    vecs = rng.standard_normal((30, dim)).astype(np.float32)
    vecs[7] = 0.0  # the zero-norm candidate
    rows = [(int(i), vecs[i].tolist()) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(3)
    queries = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=29).toPandas()
    assignments, centroids = build_ivf_index(emb, n_centroids=4, train_sample=None)
    ivf = ivf_topk(assignments, centroids, queries, k=29, nprobe=4).toPandas()
    for got in (exact, ivf):
        assert len(got) == 28 and 7 not in set(got["vec_id"])
        assert got["cosine"].notna().all()
    assert list(ivf.sort_values("rank")["vec_id"]) == list(exact.sort_values("rank")["vec_id"])


def test_observation_private_handle_pinned(spark):
    """The checkpoint's commit reads its per-bucket counts (turns_in,
    raw_triples, edges) through a non-blocking probe on the classic
    Observation's private JVM handle (obs._jo.future().isCompleted), and it
    relies on the row being set once the listener bus has delivered the
    events of the observed write (LiveListenerBus.waitUntilEmpty). Pin both
    on the installed Spark: an upgrade that breaks either must fail HERE,
    loudly — not silently record every group's counts as unavailable."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.checkpoint import _obs_ready

    obs = Observation("pin_probe")
    df = spark.range(10).observe(obs, F.count(F.lit(1)).alias("n"))
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
