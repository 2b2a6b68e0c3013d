"""Plan-shape and job-count tests for a KG build, a checkpoint group, an ask
(and one dedup plan).

A persisted `build_kg` caches only the extraction, and that one Arrow pass
also links every mention against the dictionary the matcher's index ships.
So the `kg_edges` write is a filter of the cached pass (no join, no
broadcast), the `kg_nodes` write has one vocabulary-sized exchange above it,
and building the result starts no job and collects nothing to the driver.

An ask is one adaptive query: `link_questions` builds a lazy plan, and
`retrieve_evidence` plus the caller's orderBy run it with one Arrow pass that
detects and links the questions' mentions, one `kg_edge_stats` scan and no
cache or checkpoint.

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
    table's nested plans stay inside it). Drains the listener bus first:
    the store receives the final plan after the action returns."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
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


def _index_keys(index) -> set:
    return set(index.singles) | {k for ks in index.multi_first.values() for _, k in ks}


def test_small_parquet_dictionary_ships_in_one_job(spark, fixture_inputs):
    """A parquet dictionary under the probe cap is read and shipped in one
    Spark job: one task reads its raw rows, and the driver dedups the keys."""
    aliases = fixture_inputs[1]
    with job_group(spark, "probe") as jobs:
        bc = broadcast_alias_keys(spark, aliases)
    assert len(jobs) == 1, jobs
    want = {r[0] for r in aliases.select("alias_key").distinct().collect()}
    assert _index_keys(bc.value) == want


def test_dictionary_probe_overflow_still_broadcasts(spark, tmp_path):
    """8 raw rows over 4 distinct keys overflow a 5-key raw probe; the
    distinct count then fits, so the dictionary still ships as a broadcast
    index of its 4 keys, not a spill, carrying both rows of every key as
    link candidates."""
    from pyspark.broadcast import Broadcast

    keys = ["aspirin", "heart attack", "ibuprofen", "type 2 diabetes"]
    rows = [(k, k.upper(), f"C{i}", i / 10) for i, k in enumerate(keys * 2)]
    path = str(tmp_path / "aliases")
    spark.createDataFrame(
        rows, "alias_key string, alias string, cui string, prior double"
    ).write.parquet(path)
    spill = tmp_path / "spill"
    bc = broadcast_alias_keys(spark, spark.read.parquet(path),
                              max_broadcast_keys=5, spill_dir=str(spill))
    assert isinstance(bc, Broadcast)
    assert _index_keys(bc.value) == set(keys)
    assert {k: sorted(v) for k, v in bc.value.candidates_by_key().items()} == {
        k: sorted((c, a, p) for kk, a, c, p in rows if kk == k) for k in keys}
    assert not spill.exists()


def test_build_kg_job_count(spark, fixture_inputs, tmp_path):
    """A persisted build_kg plus its three table writes takes at most 9
    Spark jobs at local[4], dictionary probe included: linking runs inside
    the cached extraction pass, so nothing is collected or broadcast and no
    vocabulary table is cached."""
    _build_and_write(spark, fixture_inputs, str(tmp_path / "warm"))
    with job_group(spark, "build") as jobs:
        _build_and_write(spark, fixture_inputs, str(tmp_path / "kg"))
    assert len(jobs) <= 9, jobs


def test_checkpoint_group_job_count(spark, fixture_inputs, tmp_path):
    """A checkpoint group commits in at most 5 Spark jobs (the kg_edges write
    and the node partial write): its lineage counts ride the kg_edges write
    as Observations. Four groups plus the dictionary probe; finalize() adds
    one job, the lineage write, to the node and edge-stat writes."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.checkpoint import (
        ResumableKGRun,
    )

    run = ResumableKGRun(spark, str(tmp_path / "ckpt"), buckets=8, group_size=2)
    with job_group(spark, "ckpt_run") as jobs:
        assert run.run(*fixture_inputs)["groups_processed"] == 4
    assert len(jobs) <= 1 + 4 * 5, jobs
    with job_group(spark, "ckpt_finalize") as jobs:
        run.finalize()
    assert len(jobs) <= 8, jobs


def test_kg_edges_write_reads_only_the_cached_pass(spark, fixture_inputs, tmp_path):
    """Given a prebuilt alias index, build_kg starts no Spark job. The
    kg_edges write's final plan reads the cached extraction, whose pass
    already linked both endpoints: no join and no broadcast."""
    index = broadcast_alias_keys(spark, fixture_inputs[1])
    with job_group(spark, "build_only") as jobs:
        kg = build_kg(spark, *fixture_inputs, alias_index=index)
    try:
        assert jobs == []
        path = str(tmp_path / "kg_edges")
        kg.kg_edges.write.parquet(path)
        plan = write_plan(spark, path)
    finally:
        kg.unpersist()
    assert count_nodes(plan, "BroadcastExchange") == 0, plan
    assert "Join" not in plan, plan
    # one cache, and it holds the extraction (its nested plan runs the kernel)
    assert count_nodes(plan, "InMemoryRelation") == 1, plan
    assert "MapInArrow" in plan, plan


def test_kg_nodes_write_has_one_exchange_above_the_cache(spark, fixture_inputs, tmp_path):
    """kg_nodes groups the cached pass's linked vocabulary rows by cui: the
    write's final plan has exactly one exchange above the cached extraction
    (the cache's own plan holds only the turn-assembly exchange)."""
    kg = build_kg(spark, *fixture_inputs)
    try:
        path = str(tmp_path / "kg_nodes")
        kg.kg_nodes.write.parquet(path)
        plan = write_plan(spark, path)
    finally:
        kg.unpersist()
    lines = plan.splitlines()
    cache = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
    assert count_nodes("\n".join(lines[:cache]), "Exchange") == 1, plan


def test_lazy_resolution_scores_without_a_window_exchange(spark, fixture_inputs):
    """At local[4] a lazy build scores its vocabulary in one task and the
    scoring pass keeps that partition, so the resolution's final plan has
    only the turn-assembly and mention-stats exchanges."""
    res = build_kg(spark, *fixture_inputs, persist=False).resolution
    assert res.collect()
    plan = final_plan(res)
    assert count_nodes(plan, "Exchange") == 2, plan


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
    """The final plan of an ask detects and links the questions' mentions
    in one Arrow pass without reading the dictionary or shuffling (no
    separate candidate pass), broadcasts only the question links, scans
    kg_edge_stats once, and caches nothing."""
    df = _ask(spark, ask_env, _questions(spark, ask_env, range(16)))
    assert df.collect()
    plan = final_plan(df)
    assert count_nodes(plan, "MapInArrow") == 1, plan
    assert "candidates(" not in plan, plan
    assert count_nodes(plan, "BroadcastExchange") == 1, plan
    assert not [l for l in plan.splitlines()
                if "FileScan" in l and "concept_aliases" in l], plan
    assert count_nodes(plan, "ReusedExchange") == 0, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
    edge_scans = [l for l in plan.splitlines()
                  if "FileScan" in l and "kg_edge_stats" in l]
    assert len(edge_scans) == 1, plan


def test_ask_job_count(spark, ask_env):
    """link + retrieve + orderBy + collect of 16 questions built with
    createDataFrame takes at most 4 Spark jobs at local[4]."""
    qs = _questions(spark, ask_env, range(16))
    _ask(spark, ask_env, qs).collect()  # warm the Python workers
    with job_group(spark, "ask") as jobs:
        rows = _ask(spark, ask_env, qs).collect()
    assert rows
    assert len(jobs) <= 4, jobs


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
