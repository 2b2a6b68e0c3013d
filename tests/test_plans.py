"""Physical-plan shape tests: the properties that make the pipeline viable at
100 TB are asserted on the plans themselves, not just the outputs.

- linking must not join (the extraction pass links both triple endpoints)
- canonicalization must be the salted two-phase aggregate
- stage [1] must shuffle exactly once (repartition satisfies the window)
- parquet scans must receive pushed filters / pruned columns
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.canonicalize import (
    canonicalize_nodes,
)
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


def test_canonicalization_is_salted_two_phase(kg, spark):
    """Row-level canonicalize_nodes (checkpoint-runner path) stays salted
    two-phase; build_kg's kg_nodes instead groups the extraction pass's
    linked vocabulary rows — its plan must show the map-side-combined
    (partial) aggregate and NO transcript-sized second read."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.canonicalize import (
        canonicalize_nodes,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
        resolve_mentions,
    )

    salted_plan = _plan(canonicalize_nodes(resolve_mentions(kg.mentions, kg.resolution)))
    assert "_salt" in salted_plan, "salted partial aggregate missing"
    assert (
        salted_plan.count("HashAggregate") >= 2
        or salted_plan.count("ObjectHashAggregate") >= 2
    )

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


def test_hot_entity_skew_bounded(spark, fixture_dir, tables):
    """Hot-alias fixture: top alias appears in a large share of mentions; the
    salted partial agg must spread each hot CUI over multiple salt buckets."""
    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    kg = build_kg(spark, transcripts, aliases, persist=False)
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
        resolve_mentions,
    )

    resolved = resolve_mentions(kg.mentions, kg.resolution)
    salted_counts = (
        resolved.withColumn(
            "_salt",
            F.pmod(F.xxhash64("conv_id", "turn_idx", "sent_idx", "mention_idx"), F.lit(16)),
        )
        .groupBy("cui", "_salt")
        .count()
        .groupBy("cui")
        .agg(F.count(F.lit(1)).alias("n_buckets"), F.sum("count").alias("n_mentions"))
        .orderBy(F.col("n_mentions").desc())
        .first()
    )
    # the hottest CUI must be spread across many salt buckets (>= 8 of 16)
    assert salted_counts["n_buckets"] >= 8, salted_counts


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
