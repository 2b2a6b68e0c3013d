"""Expected outputs, computed in pandas, and the checks against them.

`expected_kg` follows `oracle.pipeline` (stage [1] via `oracle_turns`, then
the shared `core` matcher, linker and tie-breaks), with one change that
keeps it affordable per run: the alias index is built once, not once per
sentence. `expected_answers` re-ranks question evidence the way
`oracle.materialize.kg_question_retrieval_pdf` does.
"""

from __future__ import annotations

import decimal
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from knowledge_graph_integration_rag_biomedical_qna_spark.core.config import LINK_ACCEPT_FLOOR
from knowledge_graph_integration_rag_biomedical_qna_spark.core.linking import rank_candidates, resolve
from knowledge_graph_integration_rag_biomedical_qna_spark.core.patterns import (
    AliasIndex,
    detect_mentions,
    extract_mentions_and_triples,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.core.text import split_sentences
from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.pipeline import oracle_turns

EDGE_COLS = ["conv_id", "turn_idx", "subj_cui", "pred", "obj_cui",
             "subj_surface", "obj_surface", "confidence"]


def _candidates(aliases: pd.DataFrame) -> dict:
    idx: dict = {}
    srt = aliases.sort_values(["alias_key", "cui"], kind="mergesort")
    for key, cui, alias, prior in zip(srt["alias_key"], srt["cui"], srt["alias"], srt["prior"]):
        idx.setdefault(key, []).append((cui, alias, float(prior)))
    return idx


class Expected:
    """kg_edges as a multiset, kg_nodes and kg_edge_stats as dicts."""

    def __init__(self, edges: Counter, nodes: dict, stats: dict, n_turns: int):
        self.edges, self.nodes, self.stats, self.n_turns = edges, nodes, stats, n_turns

    def scaled(self, k: int) -> "Expected":
        """The expectation for k copies of the input under distinct conv ids."""
        return Expected(
            Counter({e: n * k for e, n in self.edges.items()}),
            {c: (s, n * k) for c, (s, n) in self.nodes.items()},
            {e: (n * k, a, c * k) for e, (n, a, c) in self.stats.items()},
            self.n_turns * k,
        )


def _edge_key(conv_id, turn_idx, subj_cui, pred, obj_cui, subj_surface, obj_surface, conf):
    return (conv_id, int(turn_idx), subj_cui, pred, obj_cui, subj_surface, obj_surface,
            round(float(conf), 9))


def expected_kg(transcripts: pd.DataFrame, aliases: pd.DataFrame) -> Expected:
    turns = oracle_turns(transcripts)
    index = AliasIndex(frozenset(aliases["alias_key"]))
    cands = _candidates(aliases)
    links: dict = {}

    def link(surface, key):
        hit = links.get((surface, key), 0)
        if hit == 0:
            hit = links[(surface, key)] = resolve(surface, cands.get(key, []))
        return hit

    edges: Counter = Counter()
    surfaces: dict = {}
    counts: Counter = Counter()
    for conv_id, turn_idx, text in zip(turns["conv_id"], turns["turn_idx"], turns["text"]):
        for sent in split_sentences(text):
            mentions, triples = extract_mentions_and_triples(sent, index)
            for m in mentions:
                r = link(m.surface, m.alias_key)
                if r is not None:
                    surfaces.setdefault(r[0], set()).add(m.surface)
                    counts[r[0]] += 1
            for t in triples:
                s, o = link(t.subj_surface, t.subj_key), link(t.obj_surface, t.obj_key)
                if s is not None and o is not None:
                    edges[_edge_key(conv_id, turn_idx, s[0], t.pred, o[0],
                                    t.subj_surface, t.obj_surface, t.confidence)] += 1
    nodes = {c: (tuple(sorted(surfaces[c])), n) for c, n in counts.items()}
    per_edge: dict = {}
    for e, n in edges.items():
        acc = per_edge.setdefault((e[2], e[3], e[4]), [0, 0.0, set()])
        acc[0] += n
        acc[1] += e[7] * n
        acc[2].add(e[0])
    stats = {k: (n, round(s / n, 6), len(c)) for k, (n, s, c) in per_edge.items()}
    return Expected(edges, nodes, stats, len(turns))


def read_table(path: str) -> pd.DataFrame:
    """A parquet directory written by Spark (hive partition columns dropped)."""
    return pq.read_table(path, partitioning=None).to_pandas()


def check_kg(exp: Expected, edges: pd.DataFrame, nodes: pd.DataFrame, stats: pd.DataFrame,
             conv_map=None, check_n_convs: bool = True) -> dict:
    """Row-level differences between the engine's tables and the expectation:
    {"edges": n, "nodes": n, "edge_stats": n, "n_convs": n}. `conv_map` maps
    engine conversation ids back to the expectation's ids."""
    conv = edges["conv_id"] if conv_map is None else conv_map(edges["conv_id"])
    got = Counter(
        _edge_key(*row) for row in zip(conv, *(edges[c] for c in EDGE_COLS[1:]))
    )
    bad_edges = sum(((got - exp.edges) + (exp.edges - got)).values())

    got_nodes = {
        c: (tuple(s), int(n))
        for c, s, n in zip(nodes["cui"], nodes["surfaces"], nodes["mention_count"])
    }
    bad_nodes = len(set(got_nodes.items()) ^ set(exp.nodes.items()))

    bad_stats = bad_convs = 0
    seen = set()
    for s, p, o, n, a, c in zip(stats["subj_cui"], stats["pred"], stats["obj_cui"],
                                stats["n_evidence"], stats["avg_confidence"], stats["n_convs"]):
        want = exp.stats.get((s, p, o))
        seen.add((s, p, o))
        if want is None or int(n) != want[0] or abs(float(a) - want[1]) > 1e-6:
            bad_stats += 1
        elif int(c) != want[2]:
            bad_convs += 1
    bad_stats += len(set(exp.stats) - seen)
    if check_n_convs:
        bad_stats, bad_convs = bad_stats + bad_convs, 0
    return {"edges": bad_edges, "nodes": bad_nodes, "edge_stats": bad_stats, "n_convs": bad_convs}


def check_edges(exp: Expected, edges: pd.DataFrame) -> int:
    got = Counter(_edge_key(*row) for row in zip(*(edges[c] for c in EDGE_COLS)))
    return sum(((got - exp.edges) + (exp.edges - got)).values())


def expected_answers(questions: list, aliases: pd.DataFrame, stats: pd.DataFrame,
                     k: int) -> pd.DataFrame:
    """Top-k evidence per question: link mentions (top-1 above the floor),
    join edge stats on either endpoint, keep the best link score per edge,
    rank by round(link * avg_confidence * ln(1 + n_evidence) * 1e6)."""
    index = AliasIndex(frozenset(aliases["alias_key"]))
    cands = _candidates(aliases)
    links = set()
    for qid, text in enumerate(questions):
        for sent in split_sentences(text):
            for m in detect_mentions(sent, index):
                ranked = rank_candidates(m.surface, cands.get(m.alias_key, []), k=1)
                if ranked and ranked[0][1] >= LINK_ACCEPT_FLOOR:
                    links.add((qid, ranked[0][0], ranked[0][1]))
    ldf = pd.DataFrame(sorted(links), columns=["question_id", "cui", "link_score"])
    hits = pd.concat([
        stats.merge(ldf.rename(columns={"cui": "subj_cui"}), on="subj_cui"),
        stats.merge(ldf.rename(columns={"cui": "obj_cui"}), on="obj_cui"),
    ], ignore_index=True)
    hits = (hits.groupby(["question_id", "subj_cui", "pred", "obj_cui", "n_evidence",
                          "avg_confidence"], sort=False)["link_score"].max().reset_index())
    raw = (hits["link_score"] * hits["avg_confidence"] * np.log1p(hits["n_evidence"]) * 1e6)
    hits["rank_score_micro"] = [
        int(decimal.Decimal(repr(float(x))).quantize(decimal.Decimal("1"),
                                                     rounding=decimal.ROUND_HALF_UP))
        for x in raw.to_numpy()
    ]
    hits = hits.sort_values(["question_id", "rank_score_micro", "subj_cui", "pred", "obj_cui"],
                            ascending=[True, False, True, True, True], kind="mergesort")
    hits["rank"] = hits.groupby("question_id", sort=False).cumcount() + 1
    return hits[hits["rank"] <= k][["question_id", "subj_cui", "pred", "obj_cui",
                                    "n_evidence", "rank_score_micro", "rank"]]


def check_answers(expected: pd.DataFrame, rows: list) -> int:
    want = Counter(tuple(int(v) if isinstance(v, (int, np.integer)) else v for v in r)
                   for r in expected.itertuples(index=False))
    got = Counter((int(r["question_id"]), r["subj_cui"], r["pred"], r["obj_cui"],
                   int(r["n_evidence"]), int(r["rank_score_micro"]), int(r["rank"]))
                  for r in rows)
    return sum(((got - want) + (want - got)).values())
