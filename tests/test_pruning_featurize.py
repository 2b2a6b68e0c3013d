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
    threshold_sort_prune,
)


@pytest.fixture(scope="module")
def scored(spark):
    rows = []
    for q in range(5):
        for d in range(10):
            rows.append((q, d, round(0.1 * d + 0.01 * q, 4)))
    return spark.createDataFrame(rows, "query_id int, doc_id int, score double")


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
    """INVARIANT: the per-row Python in the Arrow candidate pass
    (linking._candidates_fn) is acceptable ONLY because candidate_table
    dedups to distinct (alias_key, surface) first — scoring cost is
    vocabulary-sized however many billions of mention rows repeat a surface.
    Feed 50x-duplicated mentions and require the scored candidate row count
    to equal the DISTINCT pair count times matching aliases (i.e. no
    per-mention fan-out reaches the scorer)."""
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
    # and the plan dedups BEFORE the lookup+score (an aggregate under the pass)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    # the extra column passes through scoring and resolution unchanged
    given = {tuple(r) for r in every_pair.collect()}
    for out in (got, resolution_table(got)):
        rows = {tuple(r) for r in out.select("alias_key", "surface", "extra").collect()}
        assert rows and rows <= given, rows - given


def test_candidate_scores_equal_link_score(spark):
    """candidate_table's score is exactly core.linking.link_score of the
    row (compared with ==): a surface whose normalized form is not its
    alias_key, a non-ASCII alias and a prior with more than 6 decimals; an
    array column passes through; a null prior scores null."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.linking import link_score
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
        candidate_table,
    )

    surfaces = spark.createDataFrame(
        [("foo bar", "foo/bar", ["q1", "q2"]),
         ("sjögren syndrome", "Sjögren  Syndrome", ["q3"]),
         ("aspirin", "ASA", [])],
        "alias_key string, surface string, qids array<string>",
    )
    aliases = spark.createDataFrame(
        [("foo bar", "C1", "foo bar", 0.1234567),
         ("foo bar", "C2", "foo-bar", 0.6666665),
         ("sjögren syndrome", "C3", "Sjögren syndrome", 1 / 3),
         ("aspirin", "C4", "aspirin", 0.0000005),
         ("aspirin", "C5", "acetylsalicylic acid", None)],
        "alias_key string, cui string, alias string, prior double",
    )
    alias_of = {r["cui"]: r["alias"] for r in aliases.collect()}
    rows = candidate_table(surfaces, aliases).collect()
    assert {r["cui"] for r in rows} == set(alias_of)
    for r in rows:
        want = None if r["prior"] is None else link_score(
            r["surface"], alias_of[r["cui"]], r["prior"])
        assert r["score"] == want, (r, want)
    qids = {r["surface"]: r["qids"] for r in surfaces.collect()}
    assert all(r["qids"] == qids[r["surface"]] for r in rows)
    assert candidate_table(surfaces.limit(0), aliases).collect() == []


def test_candidate_ranking_matches_the_specification(spark):
    """candidate_table ranks each surface's dictionary candidates in the
    order `score DESC NULLS LAST, prior DESC NULLS LAST, cui ASC NULLS
    FIRST` and keeps the top TOP_K_CANDIDATES: equal to
    core.linking.rank_candidates where no cui or prior is null, and to that
    order written out where one is. Duplicate dictionary rows stay separate
    candidates; a key not in the dictionary and a null alias_key link to
    nothing."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.config import (
        TOP_K_CANDIDATES,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.linking import (
        link_score,
        rank_candidates,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
        candidate_table,
    )

    dictionary = (
        # more than k candidates: the top k survive
        [("many", f"many {i}", f"C{i:02d}", i / 20) for i in range(TOP_K_CANDIDATES + 2)]
        # one score from two priors (0.7 * 1 + 0.03 == 0.7 * 0 + 0.72999999),
        # then one score and prior under two cuis
        + [("tie", "tie", "T2", 0.1), ("tie", "zzzz", "T1", 2.4333333),
           ("tie", "tie", "T0", 0.1)]
        # a null prior scores null and ranks last; a null cui ranks first
        # among its ties
        + [("nulls", "nulls", "N1", None), ("nulls", "nulls", None, 0.5),
           ("nulls", "nulls", "N0", 0.5), ("nulls", "other", "N2", 0.2)]
        + [("dup", "dup", "D1", 0.4), ("dup", "dup", "D1", 0.4), ("dup", "dup", "D0", 0.4)]
        + [(None, "ghost", "G1", 0.9)]
    )
    assert link_score("tie", "tie", 0.1) == link_score("tie", "zzzz", 2.4333333)
    aliases = spark.createDataFrame(
        dictionary, "alias_key string, alias string, cui string, prior double"
    )
    surfaces = spark.createDataFrame(
        [("many", "many"), ("tie", "tie"), ("nulls", "nulls"), ("dup", "dup"),
         ("absent", "absent"), (None, "ghost")],
        "alias_key string, surface string",
    )
    out = candidate_table(surfaces, aliases)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("alias_key", "string"), ("surface", "string"), ("cui", "string"),
        ("prior", "double"), ("score", "double"), ("rank", "int")]

    got: dict[str, list] = {}
    for r in out.collect():
        got.setdefault(r["alias_key"], []).append(r)
    assert set(got) == {"many", "tie", "nulls", "dup"}
    for key, rows in got.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert {r["surface"] for r in rows} == {key}
        cands = [(c, a, p) for k, a, c, p in dictionary if k == key]
        if key != "nulls":
            assert [(r["cui"], r["score"]) for r in rows] == rank_candidates(key, cands)
    assert len(got["many"]) == TOP_K_CANDIDATES
    assert [r["cui"] for r in got["tie"]] == ["T1", "T0", "T2"]
    assert [r["cui"] for r in got["dup"]] == ["D0", "D1", "D1"]
    assert [(r["cui"], r["prior"], r["score"]) for r in got["nulls"]] == [
        (None, 0.5, link_score("nulls", "nulls", 0.5)),
        ("N0", 0.5, link_score("nulls", "nulls", 0.5)),
        ("N2", 0.2, link_score("nulls", "other", 0.2)),
        ("N1", None, None),
    ]


def test_candidates_need_an_index_that_carries_them(spark):
    """A matcher-only AliasIndex (keys alone) cannot link: candidate_table
    raises when the plan runs instead of returning an empty table."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import AliasIndex
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
        candidate_table,
    )

    aliases = spark.createDataFrame(
        [("aspirin", "aspirin", "C1", 0.9)],
        "alias_key string, alias string, cui string, prior double",
    )
    surfaces = spark.createDataFrame([("aspirin", "Aspirin")], "alias_key string, surface string")
    keys_only = spark.sparkContext.broadcast(AliasIndex(["aspirin"]))
    with pytest.raises(Exception, match="carries no link candidates"):
        candidate_table(surfaces, aliases, alias_index=keys_only).collect()
