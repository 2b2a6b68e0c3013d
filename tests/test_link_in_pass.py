"""In-pass linking equals the `candidate_table` specification.

The build's extraction pass and the question pass resolve each distinct
(alias_key, surface) of their task against the dictionary the matcher's
index ships. These tests hold both passes to the specification they
replace: `resolution_table(candidate_table(...))`, joined onto the triples
with `resolve_triples` and grouped with `canonicalize_node_stats`. Without
Spark, `pair_linker` is held to the oracle's rule, `core.linking.resolve`.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from knowledge_graph_integration_rag_biomedical_qna_spark.core.config import TOP_K_CANDIDATES
from knowledge_graph_integration_rag_biomedical_qna_spark.core.linking import link_score, resolve
from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import AliasIndex
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.canonicalize import (
    canonicalize_node_stats,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import (
    detect_mentions_df,
    mention_stats_view,
    triples_view,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
    candidate_table,
    pair_linker,
    resolution_table,
    resolve_triples,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
    broadcast_alias_keys,
    build_kg,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import link_questions
from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import TRANSCRIPTS_SCHEMA

DICT_DDL = "alias_key string, alias string, cui string, prior double"

# (alias_key, alias, cui, prior)
ADVERSARIAL = (
    # more than TOP_K_CANDIDATES candidates; the winner is the last row
    [("manyx", f"manyx {i}", f"M{i:02d}", i / 20) for i in range(TOP_K_CANDIDATES + 2)]
    + [("manyx", "manyx", "M99", 0.9)]
    # one score from two priors (0.7 * 1 + 0.03 == 0.7 * 0 + 0.72999999),
    # then one score and prior under two cuis
    + [("tiex", "tiex", "T2", 0.1), ("tiex", "zzzz", "T1", 2.4333333),
       ("tiex", "tiex", "T0", 0.1)]
    # a null prior scores null: alone it links nothing, beside a scored
    # candidate it ranks last
    + [("nullprior", "nullprior", "P1", None)]
    + [("mixprior", "mixprior", "X1", None), ("mixprior", "mixprior", "X2", 0.2)]
    # a NaN prior scores NaN, which ranks first and passes the floor
    + [("nanprior", "nanprior", "N1", float("nan")), ("nanprior", "nanprior", "N2", 1.0)]
    # a null cui that loses its surface to a scored cui
    + [("lowcui", "lowcui", None, 0.1), ("lowcui", "lowcui", "L1", 0.9)]
    # duplicate rows stay separate candidates; the cui breaks the tie
    + [("dupx", "dupx", "D1", 0.4), ("dupx", "dupx", "D1", 0.4), ("dupx", "dupx", "D0", 0.4)]
    # below the acceptance floor
    + [("belowx", "nothing alike", "B1", 0.1)]
)
# matched by the index but absent from its candidates
GHOST = "ghostx"

SENTENCES = [
    "Manyx treats tiex.",
    "manyx causes nanprior.",
    "nullprior inhibits mixprior.",
    "lowcui activates dupx.",
    "Dupx binds ghostx.",
    "belowx reduces manyx.",
    "Tiex prevents nanprior and NanPrior increases lowcui.",
    "mixprior decreases Lowcui.",
]


def _shipped(rows):
    """A stand-in for a shipped handle: `.value` is the index of `rows`
    (alias_key, alias, cui, prior), sorted as the ship sorts them."""
    import types

    import pyarrow as pa

    names = ["alias_key", "alias", "cui", "prior"]
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows],
        pa.schema([(n, pa.float64() if n == "prior" else pa.string()) for n in names]),
    ).sort_by([(n, "ascending") for n in names])
    return types.SimpleNamespace(value=AliasIndex(table.column("alias_key"), candidates=table))


def _bag(df) -> Counter:
    """Rows as a multiset; NaN compares equal to NaN, arrays as tuples."""
    def norm(v):
        if isinstance(v, float) and v != v:
            return "NaN"
        return tuple(v) if isinstance(v, list) else v
    return Counter(tuple(norm(v) for v in r) for r in df.collect())


def _types(df) -> list:
    return [(f.name, f.dataType) for f in df.schema]


def _assert_same(got, want) -> None:
    assert _types(got) == _types(want)
    assert _bag(got) == _bag(want)


def _adversarial_inputs(spark):
    aliases = spark.createDataFrame(ADVERSARIAL, DICT_DDL)
    shipped = broadcast_alias_keys(spark, aliases).value
    index = spark.sparkContext.broadcast(AliasIndex(
        [*{r[0] for r in ADVERSARIAL}, GHOST], candidates=shipped.candidates))
    ts = dt.datetime(2026, 1, 1)
    transcripts = spark.createDataFrame(
        [(f"c{c}", t, "user", SENTENCES[(c + t) % len(SENTENCES)], "", ts)
         for c in range(12) for t in range(4)],
        TRANSCRIPTS_SCHEMA,
    )
    return transcripts, aliases, index


@pytest.fixture(scope="module")
def fixture_inputs(spark, fixture_dir):
    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    return (spark.read.parquet(f"{fixture_dir}/transcripts.parquet"), aliases,
            broadcast_alias_keys(spark, aliases))


@pytest.mark.parametrize("inputs", ["fixture", "adversarial"])
def test_build_links_equal_the_specification(spark, fixture_inputs, inputs):
    """kg_edges and kg_nodes equal resolve_triples and
    canonicalize_node_stats over the resolution table of the build's own
    pass, row for row and type for type."""
    transcripts, aliases, index = (
        fixture_inputs if inputs == "fixture" else _adversarial_inputs(spark))
    kg = build_kg(spark, transcripts, aliases, alias_index=index)
    try:
        resolution = resolution_table(
            candidate_table(mention_stats_view(kg.unified), aliases, alias_index=index))
        _assert_same(kg.kg_edges, resolve_triples(triples_view(kg.unified), resolution))
        _assert_same(kg.kg_nodes, canonicalize_node_stats(resolution))
        nodes = {r["cui"] for r in kg.kg_nodes.collect()}
        assert kg.kg_edges.count() > 0
    finally:
        kg.unpersist()
    if inputs == "adversarial":
        assert {"M99", "T1", "X2", "N1", "L1", "D0"} <= nodes, nodes
        assert not nodes & {"P1", "X1", "N2", "D1", "B1"}, nodes


def _question_spec(questions, aliases, index):
    """The question links as the specification computes them: the
    questions' mentions grouped per (alias_key, surface), resolved by
    resolution_table(candidate_table(...)) and exploded back to questions."""
    turns = questions.select(F.col("question_id").cast("string").alias("conv_id"),
                             F.lit(0).alias("turn_idx"), "text")
    hits = (detect_mentions_df(turns, index).groupBy("alias_key", "surface")
            .agg(F.collect_set("conv_id").alias("qids")))
    return (resolution_table(candidate_table(hits, aliases, alias_index=index))
            .select(F.explode("qids").alias("qid"), "cui", F.col("score").alias("link_score"))
            .select(F.col("qid").cast(questions.schema["question_id"].dataType)
                    .alias("question_id"), "cui", "link_score"))


@pytest.mark.parametrize("inputs", ["fixture", "adversarial", "partitioned"])
def test_question_links_equal_the_specification(spark, fixture_inputs, inputs):
    """link_questions returns exactly the specification's
    (question_id, cui, link_score) rows, NaN scores included, one per
    question and distinct linked surface. "partitioned" spreads 28
    questions over 7 partitions, each holding the same 4 texts under other
    question_ids, which the one-task link pass must keep apart."""
    _, aliases, index = _adversarial_inputs(spark) if inputs == "adversarial" else fixture_inputs
    if inputs == "adversarial":
        texts = SENTENCES + [" ".join(SENTENCES), "nothing here", ""]
    else:
        names = [r[0] for r in aliases.orderBy("alias_key").select("alias").limit(24).collect()]
        texts = [f"does {names[i]} treat {names[(i + 5) % 24]} or {names[i].upper()}?"
                 for i in range(24)]
    ddl = "question_id bigint, text string"
    if inputs == "partitioned":
        rows = [(q, texts[q % 4]) for q in range(28)]
        questions = spark.createDataFrame(spark.sparkContext.parallelize(rows, 7), ddl)
        assert questions.rdd.getNumPartitions() == 7
    else:
        questions = spark.createDataFrame(list(enumerate(texts)), ddl)
    got = link_questions(spark, questions, aliases, index)
    _assert_same(got, _question_spec(questions, aliases, index))
    assert got.count() > 0


def test_a_null_cui_links_nothing(spark):
    """A top candidate whose cui is null names no concept: the surface is
    left unlinked by resolution_table and by both in-pass linkers, so no
    node, edge or question link carries a null cui."""
    aliases = spark.createDataFrame(
        [("nullcui", "nullcui", None, 0.5), ("nullcui", "nullcui", "Z0", 0.5),
         ("okx", "okx", "K1", 0.9)], DICT_DDL)
    index = broadcast_alias_keys(spark, aliases)
    surfaces = spark.createDataFrame([("nullcui", "nullcui")], "alias_key string, surface string")
    top = candidate_table(surfaces, aliases, alias_index=index).filter("rank = 1").first()
    assert top["cui"] is None and top["score"] >= 0.5
    assert resolution_table(candidate_table(surfaces, aliases, alias_index=index)).collect() == []

    text = "okx treats nullcui. nullcui causes okx."
    transcripts = spark.createDataFrame(
        [("c1", 1, "user", text, "", dt.datetime(2026, 1, 1))], TRANSCRIPTS_SCHEMA)
    kg = build_kg(spark, transcripts, aliases, persist=False, alias_index=index)
    assert triples_view(kg.unified).count() == 2
    assert kg.kg_edges.collect() == []
    assert [r["cui"] for r in kg.kg_nodes.collect()] == ["K1"]
    qs = spark.createDataFrame([(1, text)], "question_id int, text string")
    assert [r["cui"] for r in link_questions(spark, qs, aliases, index).collect()] == ["K1"]


@pytest.mark.parametrize("body", ["extraction", "questions"])
def test_in_pass_linking_scores_each_pair_once(monkeypatch, body):
    """The pass bodies run in-process on one task's batches, which repeat
    one sentence 50 times: link_score runs exactly once per distinct
    (alias_key, surface) pair and candidate, however many mentions and
    triples repeat the pair across batches."""
    import pyarrow as pa

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators import linking
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import (
        _collapsed_fn,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import (
        _question_links_fn,
    )

    rows = [("aspirin", "aspirin", "C1", 0.9), ("aspirin", "asa", "C2", 0.5),
            ("aspirin", "acetylsalicylic acid", "C3", 0.2),
            ("headache", "headache", "C4", 0.8), ("headache", "cephalalgia", "C5", 0.3),
            ("nausea", "nausea", "C6", 0.7)]
    index = _shipped(rows)
    calls = Counter()
    score = linking.link_score

    def counted(surface, alias, prior):
        calls[(surface, alias, prior)] += 1
        return score(surface, alias, prior)

    monkeypatch.setattr(linking, "link_score", counted)
    text = "Aspirin treats headache and aspirin causes nausea."
    batches = [pa.RecordBatch.from_arrays(
        [pa.array([f"c{b}-{i}" for i in range(10)]), pa.array([0] * 10, pa.int32()),
         pa.array([text] * 10)], names=["conv_id", "turn_idx", "text"]) for b in range(5)]
    fn = (_collapsed_fn if body == "extraction" else _question_links_fn)(index, pa.string())
    out = pa.Table.from_batches(list(fn(iter(batches))))

    pairs = {("aspirin", "Aspirin"), ("aspirin", "aspirin"), ("headache", "headache"),
             ("nausea", "nausea")}
    want = {(s, a, p) for k, s in pairs for kk, a, _, p in rows if kk == k}
    assert calls == Counter(want)
    if body == "extraction":
        kinds = Counter(out.column("kind").to_pylist())
        assert kinds == {"t": 100, "s": len(pairs)}
        assert set(out.column("cui").drop_null().to_pylist()) == {"C1", "C4", "C6"}
    else:
        assert len(out) == 50 * len(pairs)


def _linker(rows):
    """pair_linker over an index shipping `rows` (alias_key, alias, cui, prior)."""
    return pair_linker(_shipped(rows))


# few cuis, aliases and priors, so lists repeat rows and tie on score; the
# priors 0.26, 0.8 / 3 and 0.27 put surface "ASPIRIN x" on alias "aspirin"
# just under, on and just over the acceptance floor (0.73, 0.74: "aspirin"
# on "aspirin tablet" either side of it)
_CAND = st.tuples(
    st.sampled_from(["C0", "C1", "C2", "C3"]),
    st.sampled_from(["aspirin", "asa", "aspirin tablet", "nothing alike"]),
    st.one_of(st.sampled_from([0.0, 0.1, 0.26, 0.8 / 3, 0.27, 0.5, 0.73, 0.74, 1.0]),
              st.floats(min_value=0.0, max_value=1.0)),
)


@given(st.lists(_CAND, max_size=10), st.sampled_from(["aspirin", "Aspirin", "asa", "ASPIRIN x"]))
@settings(max_examples=300, deadline=None)
def test_pair_linker_equals_core_resolve(cands, surface):
    """With finite priors and named cuis, the in-pass linker's accepted top-1
    link of a pair is `core.linking.resolve` of its candidates: same
    ranking, tie-breaks, floor and score, for duplicate rows and ties too."""
    link = _linker([("k", alias, cui, prior) for cui, alias, prior in cands])
    assert link("k", surface) == resolve(surface, cands)


def test_pair_linker_pins_what_core_linking_cannot_take():
    """Null priors, NaN priors and null cuis, which `core.linking` cannot
    rank, get Spark's order: a null prior scores null and ranks last, NaN
    ranks first and passes the floor, a null cui links nothing and sorts
    first among ties."""
    link = _linker(ADVERSARIAL)
    assert link("nullprior", "nullprior") is None
    assert link("mixprior", "mixprior") == ("X2", link_score("mixprior", "mixprior", 0.2))
    cui, score = link("nanprior", "nanprior")
    assert cui == "N1" and score != score
    assert link("lowcui", "lowcui") == ("L1", link_score("lowcui", "lowcui", 0.9))
    tied = _linker([("nullcui", "nullcui", None, 0.5), ("nullcui", "nullcui", "Z0", 0.5)])
    assert tied("nullcui", "nullcui") is None


# aspirin and headache link; belowx matches the index but scores below the floor
FLAG_DICT = [("aspirin", "aspirin", "C1", 0.9), ("headache", "headache", "C4", 0.8),
             ("belowx", "nothing alike", "B1", 0.1)]


def test_conv_first_counts_a_conversation_once_across_batches(spark):
    """Two-row Arrow batches split one conversation's six repeats of an edge
    over three batches of its task: exactly one row carries conv_first, so
    n_convs is 1, as count(DISTINCT conv_id) over kg_edges gives. A triple
    whose subject does not link carries a null flag."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.canonicalize import (
        aggregate_edges,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.session import scoped_conf

    aliases = spark.createDataFrame(FLAG_DICT, DICT_DDL)
    ts = dt.datetime(2026, 1, 1)
    texts = ["Aspirin treats headache."] * 6 + ["belowx reduces aspirin."]
    transcripts = spark.createDataFrame(
        [("c1", t, "user", text, "", ts) for t, text in enumerate(texts)], TRANSCRIPTS_SCHEMA)
    with scoped_conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "2"):
        kg = build_kg(spark, transcripts, aliases)
        try:
            flags = sorted(
                (r.subj_cui or "", r.conv_first)
                for r in kg.unified.filter("kind = 't'").select("subj_cui", "conv_first").collect()
            )
            stats = [tuple(r) for r in kg.kg_edge_stats.collect()]
            spec = [tuple(r) for r in aggregate_edges(kg.kg_edges).collect()]
        finally:
            kg.unpersist()
    assert flags == [("", None)] + [("C1", False)] * 5 + [("C1", True)]
    assert stats == spec
    ((subj, _, obj, n_evidence, _, n_convs),) = stats
    assert (subj, obj, n_evidence, n_convs) == ("C1", "C4", 6, 1)


def test_conv_first_raises_when_conv_id_decreases_in_a_task():
    """The pass body, run in-process on one task's batches, raises when
    conv_id goes down instead of counting the later conversation's edges
    again."""
    import pyarrow as pa

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import (
        _collapsed_fn,
    )

    index = _shipped(FLAG_DICT)
    batches = [pa.RecordBatch.from_arrays(
        [pa.array([conv]), pa.array([0], pa.int32()), pa.array(["Aspirin treats headache."])],
        names=["conv_id", "turn_idx", "text"]) for conv in ("c2", "c1")]
    with pytest.raises(ValueError, match="conv_id 'c1' after 'c2'"):
        list(_collapsed_fn(index, pa.string())(iter(batches)))
