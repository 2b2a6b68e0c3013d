"""Plan-shape and job-count tests for a KG build, an ask (and one dedup plan).

A persisted `build_kg` caches only the extraction and serves the resolved
vocabulary from the driver as a local relation, so the `kg_edges` write
broadcasts it once and reuses that exchange for the second endpoint.

An ask is one adaptive query: `link_questions` builds a lazy plan, and
`retrieve_evidence` plus the caller's orderBy run it with one extraction
pass, one `kg_edge_stats` scan and no cache or checkpoint.

These tests read final adaptive plans and count Spark jobs, so a change that
splits a plan again goes red here before it shows up as latency.
"""

from __future__ import annotations

import contextlib
import os

import pytest

from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
    broadcast_alias_keys,
    build_kg,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import (
    link_questions,
    retrieve_evidence,
)


def final_plan(df) -> str:
    """The final adaptive plan of `df`'s last action, as a tree string.
    Query stages, reused exchanges and broadcast subtrees are all inlined."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, "run an action on df first"
    return plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]


def write_plan(spark, path: str) -> str:
    """The final adaptive plan of the last write to `path`, from the SQL
    status store, cut to the written query's own final plan (a cached
    table's nested plans stay inside it)."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        desc = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in desc and path in desc:
            return desc.split("== Final Plan ==", 1)[1].split("\n+- == Initial Plan ==")[0]
    raise AssertionError(f"no write to {path} in the status store")


def count_nodes(plan: str, name: str) -> int:
    """Plan lines whose operator (after the tree drawing) starts with `name`."""
    return sum(
        1 for line in plan.splitlines()
        if line.lstrip(" :+-*()0123456789").startswith(name)
    )


@contextlib.contextmanager
def job_group(spark, name: str):
    """Collect the ids of the jobs started inside the block into a list."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    ids: list[int] = []
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(name))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="module")
def fixture_inputs(spark, fixture_dir):
    """Transcripts and dictionary read from parquet (schema jobs run here)."""
    return (spark.read.parquet(f"{fixture_dir}/transcripts.parquet"),
            spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet"))


def _build_and_write(spark, inputs, out: str) -> None:
    kg = build_kg(spark, *inputs)
    try:
        for name in ("kg_edges", "kg_nodes", "kg_edge_stats"):
            getattr(kg, name).write.mode("overwrite").parquet(os.path.join(out, name))
    finally:
        kg.unpersist()


def test_build_kg_job_count(spark, fixture_inputs, tmp_path):
    """A persisted build_kg plus its three table writes takes at most 16
    Spark jobs at local[4], dictionary probe included: the resolved
    vocabulary is collected once, and no vocabulary table is cached."""
    _build_and_write(spark, fixture_inputs, str(tmp_path / "warm"))
    with job_group(spark, "build") as jobs:
        _build_and_write(spark, fixture_inputs, str(tmp_path / "kg"))
    assert len(jobs) <= 16, jobs


def test_build_kg_serves_resolution_from_the_driver(spark, fixture_inputs, tmp_path):
    """With persist=True the resolution is a LocalRelation; the kg_edges
    write broadcasts it once and reuses that exchange for the object
    endpoint, and its only cached table is the extraction."""
    kg = build_kg(spark, *fixture_inputs)
    try:
        opt = kg.resolution._jdf.queryExecution().optimizedPlan()
        assert opt.getClass().getSimpleName() == "LocalRelation"
        path = str(tmp_path / "kg_edges")
        kg.kg_edges.write.parquet(path)
        plan = write_plan(spark, path)
    finally:
        kg.unpersist()
    assert count_nodes(plan, "BroadcastExchange") == 1, plan
    assert count_nodes(plan, "ReusedExchange") == 1, plan
    # one cache, and it holds the extraction (its nested plan runs the kernel)
    assert count_nodes(plan, "InMemoryRelation") == 1, plan
    assert "MapInArrow" in plan, plan


@pytest.fixture(scope="module")
def ask_env(spark, fixture_dir, tmp_path_factory):
    """A committed KG read back from parquet (as `kg_query ask` reads it),
    the dictionary, its broadcast keys, and 16 aliases that link."""
    aliases_path = f"{fixture_dir}/concept_aliases.parquet"
    aliases = spark.read.parquet(aliases_path)
    es_dir = os.path.join(str(tmp_path_factory.mktemp("ask_kg")), "kg_edge_stats")
    kg = build_kg(spark, spark.read.parquet(f"{fixture_dir}/transcripts.parquet"),
                  aliases, persist=False)
    kg.kg_edge_stats.write.parquet(es_dir)
    names = [r[0] for r in aliases.orderBy("alias_key").select("alias").limit(16).collect()]
    return {
        "aliases": aliases,
        "edge_stats": spark.read.parquet(es_dir),
        "keys": broadcast_alias_keys(spark, aliases),
        "names": names,
    }


def _ask(spark, env, questions, k=10):
    links = link_questions(spark, questions, env["aliases"], env["keys"])
    return retrieve_evidence(links, env["edge_stats"], k=k).orderBy("question_id", "rank")


def _questions(spark, env, ids, ddl="int"):
    names = env["names"]
    return spark.createDataFrame(
        [(q, f"what about {names[i % len(names)]} and {names[(i + 3) % len(names)]}?")
         for i, q in enumerate(ids)],
        f"question_id {ddl}, text string",
    )


def test_link_questions_is_lazy(spark, ask_env):
    """Building the link plan starts no Spark job: no cache fill, no eager
    checkpoint, no probe."""
    qs = _questions(spark, ask_env, range(16))
    with job_group(spark, "link_only") as jobs:
        link_questions(spark, qs, ask_env["aliases"], ask_env["keys"])
    assert jobs == []


def test_ask_is_one_plan(spark, ask_env):
    """The final plan of an ask runs the extraction once (one MapInArrow;
    the question ids ride through linking, so there is no second branch and
    nothing to reuse), scans kg_edge_stats once, and caches nothing."""
    df = _ask(spark, ask_env, _questions(spark, ask_env, range(16)))
    assert df.collect()
    plan = final_plan(df)
    assert count_nodes(plan, "MapInArrow") == 1, plan
    assert count_nodes(plan, "ReusedExchange") == 0, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
    edge_scans = [l for l in plan.splitlines()
                  if "FileScan" in l and "kg_edge_stats" in l]
    assert len(edge_scans) == 1, plan


def test_ask_job_count(spark, ask_env):
    """link + retrieve + orderBy + collect of 16 questions built with
    createDataFrame takes at most 7 Spark jobs at local[4]."""
    qs = _questions(spark, ask_env, range(16))
    _ask(spark, ask_env, qs).collect()  # warm the Python workers
    with job_group(spark, "ask") as jobs:
        rows = _ask(spark, ask_env, qs).collect()
    assert rows
    assert len(jobs) <= 7, jobs


@pytest.mark.parametrize("ddl, ids", [
    ("int", list(range(12))),
    ("bigint", [2**40 + i for i in range(3)]),
    ("string", ["q-b", "q-a", "q-10"]),
])
def test_question_id_keeps_input_type(spark, ask_env, ddl, ids):
    """question_id comes back in its input type, so int ids sort
    numerically past 9."""
    qs = _questions(spark, ask_env, ids, ddl)
    for df in (link_questions(spark, qs, ask_env["aliases"], ask_env["keys"]),
               _ask(spark, ask_env, qs)):
        assert df.schema["question_id"].dataType == qs.schema["question_id"].dataType
    got = [r["question_id"] for r in _ask(spark, ask_env, qs).collect()]
    assert set(got) == set(ids)
    assert got == sorted(got)


def test_unlinked_and_empty_batches_return_no_rows(spark, ask_env):
    none = spark.createDataFrame([(1, "nothing in the dictionary here")],
                                 "question_id int, text string")
    empty = spark.createDataFrame([], "question_id int, text string")
    for qs in (none, empty):
        assert link_questions(spark, qs, ask_env["aliases"], ask_env["keys"]).collect() == []
        assert _ask(spark, ask_env, qs).collect() == []


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "the verify branch reads a pruned (n, hs) twin of the signature "
    "aggregate, with or without the no-op filter: two scans, two shingle "
    "shuffles"))
def test_minhash_dedup_shares_one_signature_exchange(spark, fixture_dir):
    """minhash_dedup's docstring promises that the no-op `F.size("hs") >= 0`
    filter keeps every consumer on one signature aggregate, so the corpus
    is scanned and shingled once and the other consumers reuse that
    exchange."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        minhash_dedup,
    )

    docs = spark.read.parquet(f"{fixture_dir}/transcripts.parquet").selectExpr(
        "concat(conv_id, ':', turn_idx) AS doc_id", "text")
    df = minhash_dedup(docs, n=3, num_hashes=16, bands=4, threshold=0.6,
                       family="xxhash64")
    df.collect()
    plan = final_plan(df)
    assert len([l for l in plan.splitlines()
                if "FileScan" in l and "transcripts" in l]) == 1, plan
    assert count_nodes(plan, "ReusedExchange") >= 1, plan
