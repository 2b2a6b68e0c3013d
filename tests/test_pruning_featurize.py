"""Tests for the pruning stack and the hashed-embedding featurizer."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.featurize import (
    cosine_col,
    embed_text,
    with_embedding,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.pruning import (
    argmax_prune,
    delta_threshold_prune,
    percentile_floor_prune,
    threshold_sort_prune,
)


@pytest.fixture(scope="module")
def scored(spark):
    rows = []
    for q in range(5):
        for d in range(10):
            rows.append((q, d, round(0.1 * d + 0.01 * q, 4)))
    return spark.createDataFrame(rows, "query_id int, doc_id int, score double")


def test_delta_threshold_prune(spark, scored):
    base = spark.createDataFrame(
        [(q, 0.5) for q in range(5)], "query_id int, base_score double"
    )
    kept = delta_threshold_prune(scored, base, threshold=0.25).toPandas()
    assert (kept["score"] >= 0.75).all()
    assert len(kept) == 5 * 2  # scores 0.8x, 0.9x per query


def test_percentile_floor_prune(spark, scored):
    kept = percentile_floor_prune(scored, percentile=0.75, floor=0.5).toPandas()
    # p75 of (0.0x..0.9x) is 0.675+q*0.01: keep 0.7x,0.8x,0.9x (all > floor)
    assert sorted(kept["doc_id"].unique()) == [7, 8, 9]
    assert len(kept) == 15


def test_argmax_prune(spark, scored):
    kept = argmax_prune(scored).toPandas().sort_values("query_id")
    assert kept["doc_id"].tolist() == [9] * 5
    # deterministic tie-break: duplicate top score -> lowest doc_id wins
    tied = spark.createDataFrame(
        [(1, 5, 0.9), (1, 3, 0.9), (1, 7, 0.1)], "query_id int, doc_id int, score double"
    )
    assert argmax_prune(tied).first()["doc_id"] == 3


def test_threshold_sort_prune(spark, scored):
    kept = threshold_sort_prune(scored, threshold=0.55).toPandas()
    assert (kept["score"] > 0.55).all()
    for _, g in kept.groupby("query_id"):
        g = g.sort_values("rank")
        assert (g["score"].diff().dropna() <= 1e-12).all()
        assert g["rank"].tolist() == list(range(1, len(g) + 1))


def test_embed_deterministic_and_normalized():
    v1 = embed_text("aspirin inhibits cox2")
    v2 = embed_text("aspirin inhibits cox2")
    assert np.array_equal(v1, v2)
    assert abs(float(np.linalg.norm(v1)) - 1.0) < 1e-5
    assert v1.shape == (64,)
    # similar strings closer than dissimilar ones
    sim = float(np.dot(embed_text("aspirin"), embed_text("aspirim")))
    dis = float(np.dot(embed_text("aspirin"), embed_text("zzgrxq")))
    assert sim > dis


def test_with_embedding_spark_matches_local(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta")], "id int, text string"
    )
    out = with_embedding(df).orderBy("id").collect()
    for row in out:
        want = embed_text(row["text"])
        got = np.array(row["embedding"], dtype=np.float32)
        assert np.allclose(got, want, atol=1e-6)


def test_cosine_col(spark):
    df = spark.createDataFrame([(0, "same text", "same text"), (1, "aaa", "zzz")],
                               "id int, a string, b string")
    left = with_embedding(df.select("id", F.col("a").alias("text"))).select("id", F.col("embedding").alias("ea"))
    right = with_embedding(df.select("id", F.col("b").alias("text"))).select("id", F.col("embedding").alias("eb"))
    j = left.join(right, "id").select("id", F.round(cosine_col("ea", "eb"), 4).alias("cos")).orderBy("id").collect()
    assert abs(j[0]["cos"] - 1.0) < 1e-3
    assert j[1]["cos"] < 0.9


def test_link_scoring_runs_on_vocabulary_not_mentions(spark, fixture_dir):
    """INVARIANT: the per-row Python in _link_score_udf is acceptable ONLY
    because candidate_table dedups to distinct (alias_key, surface) first —
    scoring cost is vocabulary-sized however many billions of mention rows
    repeat a surface. Feed 50x-duplicated mentions and require the scored
    candidate row count to equal the DISTINCT pair count times matching
    aliases (i.e. no per-mention fan-out reaches the UDF)."""
    from pyspark.sql import functions as F

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
        candidate_table,
        resolution_table,
    )

    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    # `extra` is determined by (alias_key, surface), as the pass-through
    # contract requires
    every_pair = aliases.select(
        "alias_key", F.col("alias").alias("surface"), F.length("alias").alias("extra")
    )
    pairs = every_pair.limit(20)
    dup = pairs.crossJoin(spark.range(50)).select("alias_key", "surface", "extra")
    got = candidate_table(dup, aliases)
    # row count must match the run on the already-distinct input exactly
    want = candidate_table(pairs, aliases)
    assert got.count() == want.count()
    # and the plan dedups BEFORE the join+score (an aggregate under the join)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    # the extra column passes through scoring and resolution unchanged
    given = {tuple(r) for r in every_pair.collect()}
    for out in (got, resolution_table(got)):
        rows = {tuple(r) for r in out.select("alias_key", "surface", "extra").collect()}
        assert rows and rows <= given, rows - given
