"""`retrieve_evidence` against a pure-Python specification, over question
links and graph edges written out by hand.

The specification: an edge is a hit for a question when the question links
either endpoint; its link score is the best over the question's links to
those endpoints (a CUI linked through two surfaces counts its best link);
rank_score_micro = round-half-up(link_score * avg_confidence *
ln(1 + n_evidence) * 1e6); a question's hits rank by rank_score_micro
descending, then (subj_cui, pred, obj_cui), and the first k are kept. The
data covers both endpoints linked by one question with different scores, a
self-loop, an edge hit by two questions, a five-way score tie, the cut at k
and a question with no hit, for int, bigint and string question ids.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest

from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import retrieve_evidence

# (question, cui, link_score): question 0 links C1 through two surfaces and
# C2; question 2 links only C9, which no edge touches
LINKS = [
    (0, "C1", 0.9), (0, "C1", 0.6), (0, "C2", 0.5),
    (1, "C2", 0.8), (1, "C5", 0.7),
    (2, "C9", 0.95),
    (3, "C6", 1.0),
]
# (subj_cui, pred, obj_cui, n_evidence, avg_confidence, n_convs)
EDGES = [
    ("C1", "treats", "C2", 3, 0.8, 2),      # question 0 at both endpoints; question 1 too
    ("C2", "causes", "C3", 2, 0.7, 1),
    ("C1", "interacts", "C1", 5, 0.9, 3),   # a self-loop
    ("C4", "treats", "C5", 1, 0.6, 1),
    ("C7", "treats", "C8", 4, 0.9, 4),      # no question links either endpoint
    ("C6", "inhibits", "C13", 9, 0.9, 5),
    # five hits of question 3 with one score: ranked by (subj_cui, pred, obj_cui)
    ("C6", "treats", "C10", 2, 0.5, 1),
    ("C6", "causes", "C10", 2, 0.5, 1),
    ("C6", "treats", "C11", 2, 0.5, 1),
    ("C10", "treats", "C6", 2, 0.5, 1),
    ("C6", "affects", "C12", 2, 0.5, 1),
]


def specification(links, edges, k: int) -> list[tuple]:
    best: dict = {}
    for q, cui, score in links:
        best[q, cui] = max(score, best.get((q, cui), score))
    out = []
    for q in sorted({q for q, _, _ in links}):
        hits = []
        for subj, pred, obj, n, conf, _ in edges:
            scores = [best[q, c] for c in (subj, obj) if (q, c) in best]
            if scores:
                x = max(scores) * conf * math.log1p(n) * 1e6
                micro = int(Decimal(repr(x)).quantize(Decimal(1), ROUND_HALF_UP))
                hits.append((-micro, subj, pred, obj, n, micro))
        for rank, (_, subj, pred, obj, n, micro) in enumerate(sorted(hits)[:k], 1):
            out.append((q, subj, pred, obj, n, micro, rank))
    return out


def test_specification_covers_each_case():
    """The hand-written data reaches every case the module docstring names."""
    full = specification(LINKS, EDGES, k=100)
    by_q = {q: [r[1:4] for r in full if r[0] == q] for q in range(4)}
    assert ("C1", "treats", "C2") in by_q[0] and ("C1", "treats", "C2") in by_q[1]
    assert ("C1", "interacts", "C1") in by_q[0] and by_q[2] == []
    assert by_q[3][1:] == [("C10", "treats", "C6"), ("C6", "affects", "C12"),
                           ("C6", "causes", "C10"), ("C6", "treats", "C10"),
                           ("C6", "treats", "C11")]
    assert len({r[5] for r in full if r[0] == 3 and r[6] > 1}) == 1
    assert [r[5] for r in full if r[1:4] == ("C1", "treats", "C2")] == [
        round(0.9 * 0.8 * math.log1p(3) * 1e6), round(0.8 * 0.8 * math.log1p(3) * 1e6)]
    assert len(specification(LINKS, EDGES, k=3)) < len(full)


@pytest.mark.parametrize("ddl, ids", [
    ("int", [3, 1, 20, 2]),
    ("bigint", [2**40 + 3, 2**40 + 1, 2**40 + 20, 2**40 + 2]),
    ("string", ["q-b", "q-a", "q-10", "q-2"]),
])
@pytest.mark.parametrize("k", [1, 3, 10])
def test_retrieve_evidence_equals_the_specification(spark, ddl, ids, k):
    links = [(ids[q], cui, s) for q, cui, s in LINKS]
    got = retrieve_evidence(
        spark.createDataFrame(links, f"question_id {ddl}, cui string, link_score double"),
        spark.createDataFrame(EDGES, "subj_cui string, pred string, obj_cui string,"
                                     " n_evidence bigint, avg_confidence double, n_convs bigint"),
        k=k,
    )
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("question_id", ddl), ("subj_cui", "string"), ("pred", "string"),
        ("obj_cui", "string"), ("n_evidence", "bigint"), ("rank_score_micro", "bigint"),
        ("rank", "bigint")]
    rows = [tuple(r) for r in got.orderBy("question_id", "rank").collect()]
    assert rows == specification(links, EDGES, k)


def test_a_null_question_id_ranks_like_any_other(spark):
    """A question with a null id keeps its hits under the null id."""
    edges = spark.createDataFrame(EDGES, "subj_cui string, pred string, obj_cui string,"
                                         " n_evidence bigint, avg_confidence double, n_convs bigint")

    def ask(null_id):
        links = [(null_id if q == 0 else q, cui, s) for q, cui, s in LINKS]
        df = spark.createDataFrame(links, "question_id int, cui string, link_score double")
        return [tuple(r) for r in retrieve_evidence(df, edges, k=3).collect()]

    got = ask(None)
    assert sorted(got, key=lambda r: (r[0] is not None, r[0] or 0, r[-1])) == [
        (None, *r[1:]) if r[0] == 0 else r for r in specification(LINKS, EDGES, 3)]
    assert sorted(ask(0), key=lambda r: (r[0], r[-1])) == specification(LINKS, EDGES, 3)
