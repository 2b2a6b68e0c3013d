"""The correctness gate: Spark pipeline vs pandas oracle on seed-42 fixtures.

BASELINE.json targets enforced here:
- triple P/R >= 0.95 on (conv_id, turn_idx, subj_cui, pred, obj_cui)
  (by construction of shared semantics we expect exactly 1.0)
- per-turn text equality under stable (conv_id, turn_idx) ordering
- canonicalization node parity
"""

from __future__ import annotations

import pandas as pd
import pytest

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import (
    extract_all_df,
    mention_stats_view,
    mentions_view,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
    candidate_table,
    resolution_table,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.turn_assembly import (
    assemble_turns,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.pipeline import (
    oracle_mentions,
    oracle_nodes,
    oracle_triples,
    oracle_turns,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
    broadcast_alias_keys,
    build_kg,
)

TRIPLE_KEY = ["conv_id", "turn_idx", "subj_cui", "pred", "obj_cui"]


@pytest.fixture(scope="module")
def inputs(spark, fixture_dir):
    return (spark.read.parquet(f"{fixture_dir}/transcripts.parquet"),
            spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet"))


@pytest.fixture(scope="module")
def kg(spark, inputs):
    return build_kg(spark, *inputs)


@pytest.fixture(scope="module")
def candidates(kg, inputs):
    """The specification's candidate table over the build's own pass."""
    return candidate_table(mention_stats_view(kg.unified), inputs[1])


@pytest.fixture(scope="module")
def gold(tables):
    turns = oracle_turns(tables["transcripts"])
    aliases = tables["concept_aliases"]
    return {
        "turns": turns,
        "mentions": oracle_mentions(turns, aliases),
        "triples": oracle_triples(turns, aliases),
    }


def _pr(pred: pd.DataFrame, gold: pd.DataFrame, key: list[str]) -> tuple[float, float]:
    p = set(map(tuple, pred[key].itertuples(index=False)))
    g = set(map(tuple, gold[key].itertuples(index=False)))
    if not p or not g:
        return (0.0, 0.0)
    inter = len(p & g)
    return inter / len(p), inter / len(g)


def test_turn_text_equality(inputs, gold):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering."""
    got = (
        assemble_turns(inputs[0]).select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = gold["turns"][["conv_id", "turn_idx", "text"]].sort_values(
        ["conv_id", "turn_idx"]
    ).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)


def test_mention_parity(spark, inputs, gold):
    transcripts, aliases = inputs
    got = mentions_view(
        extract_all_df(assemble_turns(transcripts), broadcast_alias_keys(spark, aliases))
    ).toPandas()
    key = ["conv_id", "turn_idx", "sent_idx", "mention_idx", "alias_key", "surface"]
    prec, rec = _pr(got, gold["mentions"], key)
    assert prec == 1.0 and rec == 1.0, (prec, rec, len(got), len(gold["mentions"]))


def test_triple_pr_gate(kg, gold):
    """The headline gate: P/R >= 0.95 (expected exactly 1.0)."""
    got = kg.kg_edges.toPandas()
    prec, rec = _pr(got, gold["triples"], TRIPLE_KEY)
    assert prec >= 0.95 and rec >= 0.95, (prec, rec)
    assert prec == 1.0 and rec == 1.0, (prec, rec)
    # confidence values carried through identically
    g = gold["triples"].sort_values(TRIPLE_KEY).reset_index(drop=True)
    s = got.sort_values(TRIPLE_KEY).reset_index(drop=True)
    assert len(g) == len(s)
    assert (g["confidence"].values == s["confidence"].values).all()


def test_node_parity(kg, tables, gold):
    want = oracle_nodes(gold["mentions"], tables["concept_aliases"])
    got = kg.kg_nodes.toPandas().sort_values("cui").reset_index(drop=True)
    assert list(got["cui"]) == list(want["cui"])
    assert got["mention_count"].tolist() == want["mention_count"].tolist()
    for a, b in zip(got["surfaces"], want["surfaces"]):
        assert list(a) == list(b)


def test_candidates_topk_deterministic(candidates):
    """Candidate table: rank unique per (alias_key, surface), rank<=10,
    scores non-increasing with rank."""
    pdf = candidates.toPandas()
    assert pdf["rank"].max() <= 10
    grp = pdf.sort_values(["alias_key", "surface", "rank"]).groupby(["alias_key", "surface"])
    for _, g in grp:
        assert g["rank"].tolist() == list(range(1, len(g) + 1))
        assert (g["score"].diff().dropna() <= 1e-12).all()


def test_linking_functional(candidates):
    """Linking is functional: at most one accepted CUI per (alias_key, surface)."""
    dup = (
        resolution_table(candidates).groupBy("alias_key", "surface")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0


def test_provenance_invariant(kg, tables):
    """No triple without a source (conv_id, turn_idx) present in the input."""
    src = tables["transcripts"][["conv_id", "turn_idx"]].drop_duplicates()
    edges = kg.kg_edges.select("conv_id", "turn_idx").distinct().toPandas()
    merged = edges.merge(src, on=["conv_id", "turn_idx"], how="left", indicator=True)
    assert (merged["_merge"] == "both").all()


def test_empty_inputs_produce_empty_outputs(spark):
    """Degenerate inputs must not error: empty transcripts, an empty
    dictionary or one with no hits yield empty (but well-typed) outputs,
    lazy or persisted."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import (
        ALIASES_SCHEMA,
        TRANSCRIPTS_SCHEMA,
    )

    empty_t = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    empty_a = spark.createDataFrame([], ALIASES_SCHEMA)
    some_t = spark.createDataFrame(
        [("c1", 1, "user", "aspirin inhibits cox2.", "", __import__("datetime").datetime(2026, 1, 1))],
        TRANSCRIPTS_SCHEMA,
    )
    kg1 = build_kg(spark, empty_t, empty_a, persist=False)
    assert kg1.kg_edges.count() == 0 and kg1.kg_nodes.count() == 0
    kg2 = build_kg(spark, some_t, empty_a, persist=False)
    assert kg2.kg_edges.count() == 0
    keys = broadcast_alias_keys(spark, empty_a)
    assert mentions_view(extract_all_df(assemble_turns(some_t), keys)).count() == 0
    # persisted builds link inside the cached pass: an empty dictionary,
    # and a dictionary none of the text mentions
    no_hits_a = spark.createDataFrame([("zzqx", "zzqx", "C9999", 1.0)], ALIASES_SCHEMA)
    for aliases in (empty_a, no_hits_a):
        kg = build_kg(spark, some_t, aliases, persist=True)
        try:
            resolution = resolution_table(
                candidate_table(mention_stats_view(kg.unified), aliases))
            assert resolution.collect() == []
            for df in (kg.kg_edges, kg.kg_nodes, kg.kg_edge_stats):
                assert df.collect() == []
        finally:
            kg.unpersist()


def test_question_retrieval(spark, fixture_dir):
    """Query side: a question mentioning a known alias retrieves only edges
    touching that alias's CUI, ranked deterministically."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        broadcast_alias_keys,
        build_kg,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import (
        link_questions,
        retrieve_evidence,
    )

    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    kg = build_kg(spark, transcripts, aliases, persist=False)
    # pick a surface guaranteed to exist: the first alias in the table
    alias_row = aliases.orderBy("alias_key").first()
    q = spark.createDataFrame(
        [(1, f"tell me about {alias_row['alias']} please")], "question_id int, text string"
    )
    keys_bc = broadcast_alias_keys(spark, aliases)
    links = link_questions(spark, q, aliases, keys_bc).toPandas()
    assert len(links) >= 1
    linked_cuis = set(links["cui"])
    ev = retrieve_evidence(
        link_questions(spark, q, aliases, keys_bc), kg.kg_edge_stats, k=10
    ).toPandas()
    for _, row in ev.iterrows():
        assert row["subj_cui"] in linked_cuis or row["obj_cui"] in linked_cuis
    assert ev["rank"].is_monotonic_increasing or len(ev) <= 1


def test_duplicate_turn_dedup_matches_oracle(spark):
    """Duplicate (conv_id, turn_idx) rows (at-least-once ingest) dedupe
    first-wins under the stable (ts, role, text, tool) order — identical in
    the Spark window and the oracle's stable sort, including ts ties."""
    import datetime as dt

    import pandas as pd

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.turn_assembly import (
        assemble_turns,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.pipeline import (
        oracle_turns,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import (
        TRANSCRIPTS_SCHEMA,
    )

    t0 = dt.datetime(2026, 1, 1)
    t1 = dt.datetime(2026, 1, 1, 0, 1)
    rows = [
        # same turn re-sent later with different text -> earlier ts wins
        ("c1", 0, "user", "first version.", "", t0),
        ("c1", 0, "user", "second version.", "", t1),
        # ts tie -> role breaks it (assistant < tool < user lexicographically)
        ("c1", 1, "tool", "tool text.", "search", t0),
        ("c1", 1, "assistant", "assistant text.", "", t0),
        # ts+role tie -> text breaks it
        ("c2", 0, "user", "bbb.", "", t0),
        ("c2", 0, "user", "aaa.", "", t0),
        # empty duplicate row and a whitespace-only turn
        ("c2", 1, "user", "", "", t0),
        ("c2", 2, "user", "   ", "", t0),
        ("c2", 3, "user", "kept.", "", t0),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    got = (
        assemble_turns(df)
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    want = (
        oracle_turns(pdf)[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)
    assert got["text"].tolist() == ["first version.", "assistant text.", "aaa.", "kept."]


def test_candidate_ranking_parity_with_oracle(candidates, gold, tables):
    """Stage [4]-[5] in isolation: the Spark candidate table's ranked (cui,
    score, rank) per surface must equal the oracle's rank_candidates on the
    same mentions."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.pipeline import (
        oracle_links,
    )

    want = oracle_links(gold["mentions"].head(300), tables["concept_aliases"])
    got = candidates.toPandas()
    got_map = {
        (r["surface"], r["rank"]): (r["cui"], round(r["score"], 6))
        for _, r in got.iterrows()
    }
    for _, r in want.iterrows():
        key = (r["surface"], r["rank"])
        assert key in got_map, key
        assert got_map[key] == (r["cui"], round(r["score"], 6)), key


def test_adversarial_inputs_match_pandas_oracle(spark):
    """build_kg == oracle_turns+oracle_triples on hostile inputs: unicode,
    emoji, the \\x00 sentinel, null text, whitespace-only text, a duplicate
    (conv_id, turn_idx) whose first-wins winner is whitespace-only (the turn
    must then vanish: dedup happens BEFORE the empty-text filter, both
    engines), RE2-divergent \\x0b, and mixed casing/whitespace."""
    import datetime as dt

    import pandas as pd

    from knowledge_graph_integration_rag_biomedical_qna_spark.oracle.pipeline import (
        oracle_triples,
        oracle_turns,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import build_kg
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import (
        synth_aliases,
    )

    ts = dt.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", "spark treats window. batch inhibits stream!", None, ts),
        ("c1", 1, "assistant", "café über spark treats stream.", None, ts),
        ("c1", 2, "user", "emoji \U0001f600 spark causes column. done.", None, ts),
        ("c2", 0, "user", "null byte \x00 spark treats batch.", None, ts),
        ("c2", 1, "user", None, None, ts),
        ("c2", 2, "user", "   \t\n  ", None, ts),
        ("c2", 2, "user", "dup turn: vector prevents stream.", None, ts),
        ("c3", 0, "user", "a.\x0bvector treats batch.", None, ts),
        ("c3", 1, "user", "tabs\tand  double  spaces. spark activates table .", None, ts),
        ("c3", 2, "user", "spark TREATS Window; STREAM causes BATCH.", None, ts),
    ]
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    aliases = synth_aliases(spark)
    kg = build_kg(spark, tr, aliases, persist=False)
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["subj_cui"], r["pred"], r["obj_cui"],
         round(r["confidence"], 6))
        for r in kg.kg_edges.collect()
    )
    want = oracle_triples(oracle_turns(pd.DataFrame(rows, columns=cols)), aliases.toPandas())
    want_t = sorted(
        (r.conv_id, int(r.turn_idx), r.subj_cui, r.pred, r.obj_cui,
         round(float(r.confidence), 6))
        for r in want.itertuples()
    )
    assert got == want_t and len(got) > 0
    # the shadowed c2 turn 2 must contribute nothing in BOTH engines
    assert not any(c == "c2" and t == 2 for c, t, *_ in got)


def test_mentions_view_raises_on_collapsed_input(spark, fixture_dir):
    """A collapsed extraction has no per-occurrence 'm' rows; mentions_view
    must fail loudly instead of returning a silent empty result (r5 advice)."""
    import pytest as _pytest

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import (
        extract_collapsed_df, mentions_view,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.turn_assembly import (
        assemble_turns,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        broadcast_alias_keys,
    )

    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    bc = broadcast_alias_keys(spark, aliases)
    collapsed = extract_collapsed_df(assemble_turns(transcripts), bc)
    with _pytest.raises(ValueError, match="COLLAPSED"):
        mentions_view(collapsed)
