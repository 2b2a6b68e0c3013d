"""Plan-shape and job-count tests for a KG build, a checkpoint group, an ask
(and one dedup plan).

A persisted `build_kg` stores only the extraction, as a local checkpoint,
and that one Arrow pass also links every mention against the dictionary the
matcher's index ships. So the `kg_edges` write is a filter of the stored
pass's `ExistingRDD` scan (no join, no broadcast), the `kg_nodes` write has
one vocabulary-sized exchange above it, the `kg_edge_stats` write one
exchange keyed by edge, and building the result starts only the turn
assembly's exchange job (none when lazy) and collects nothing to the driver.

An ask is one adaptive query: `link_questions` builds a lazy plan, and
`retrieve_evidence` plus the caller's orderBy run it with one Arrow pass that
detects and links the questions' mentions, one `kg_edge_stats` scan and no
cache or checkpoint.

These tests read final adaptive plans and count Spark jobs, so a change that
splits a plan again goes red here before it shows up as latency.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import shutil

import pytest

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import (
    mention_stats_view,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
    candidate_table,
    resolution_table,
)
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
    """The plan tree of the last write to `path`, from the SQL status
    store: the final adaptive plan, or the physical plan of a write with no
    exchange (which runs without adaptive execution). Drains the listener
    bus first: the store receives the final plan after the action returns.
    The store may keep the write's plan under "Current Plan" (no final-plan
    update reaches it in a fresh session); the write has returned, so that
    plan is the one that ran."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        desc = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in desc and path in desc:
            plan = re.split(r"== (?:Final|Current|Physical) Plan ==", desc)[-1]
            return plan.split("\n+- == Initial Plan ==")[0].split("\n\n")[0]
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


def _dictionary_copy(fixture_dir, tmp_path) -> str:
    """A private copy of the fixture dictionary: a first ship of it cannot
    hit a handle another test's ship stored."""
    path = str(tmp_path / "concept_aliases.parquet")
    shutil.copyfile(f"{fixture_dir}/concept_aliases.parquet", path)
    return path


_SHIPS = itertools.count()


def _ship(spark, path: str):
    """Read `path` (its schema job runs outside the count) and ship it:
    (handle, ids of the jobs the ship started)."""
    aliases = spark.read.parquet(path)
    with job_group(spark, f"ship-{next(_SHIPS)}") as jobs:
        handle = broadcast_alias_keys(spark, aliases)
    return handle, jobs


def test_small_parquet_dictionary_ships_in_one_job(spark, fixture_dir, tmp_path):
    """A parquet dictionary is read and shipped in one Spark job, its
    collect. A second ship of the unchanged files starts no job and returns
    the same handle."""
    path = _dictionary_copy(fixture_dir, tmp_path)
    bc, jobs = _ship(spark, path)
    assert len(jobs) == 1, jobs
    want = {r[0] for r in spark.read.parquet(path).select("alias_key").distinct().collect()}
    assert _index_keys(bc.value) == want
    again, jobs = _ship(spark, path)
    assert jobs == [] and again is bc


def test_a_changed_prior_is_another_dictionary(spark, fixture_dir, tmp_path):
    """A `withColumn` over the same files changes the shipped plan: the ship
    misses the memo and names other content. The memo keeps one dictionary,
    so the unchanged one then ships again, under its own digest."""
    from pyspark.sql import functions as F

    path = _dictionary_copy(fixture_dir, tmp_path)
    bc, _ = _ship(spark, path)
    changed = spark.read.parquet(path).withColumn(
        "prior", F.when(F.col("alias_key") == F.lit(bc.value.candidates[0][0]),
                        F.col("prior") + 0.01).otherwise(F.col("prior")))
    with job_group(spark, "changed") as jobs:
        other = broadcast_alias_keys(spark, changed)
    assert jobs and other is not bc and other.digest != bc.digest
    again, jobs = _ship(spark, path)
    assert jobs and again is not bc and again.digest == bc.digest


def test_an_overwrite_of_the_same_path_misses(spark, fixture_dir, tmp_path):
    """A Spark overwrite of the dictionary's path writes other files: the
    ship misses the memo, and the new handle's digest still names the
    (unchanged) content, as a resume compares it."""
    src = _dictionary_copy(fixture_dir, tmp_path)
    path = str(tmp_path / "aliases")
    spark.read.parquet(src).write.parquet(path)
    bc, _ = _ship(spark, path)
    spark.read.parquet(src).write.mode("overwrite").parquet(path)
    again, jobs = _ship(spark, path)
    assert jobs and again is not bc and again.digest == bc.digest


def test_an_in_place_rewrite_of_another_size_misses(spark, fixture_dir, tmp_path):
    """A pyarrow rewrite of the dictionary file in place, one row shorter
    and with its modification time put back, misses on the size alone."""
    import pyarrow.parquet as pq

    path = _dictionary_copy(fixture_dir, tmp_path)
    bc, _ = _ship(spark, path)
    st = os.stat(path)
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows - 1), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_size != st.st_size
    again, jobs = _ship(spark, path)
    assert jobs and again is not bc and again.digest != bc.digest


def test_a_memo_hit_needs_no_file_on_the_driver(spark, fixture_dir, tmp_path):
    """The memo keys on the dictionary alone. Executors read the copy the
    SparkContext distributed, so a repeat ship hits even after the driver's
    temp file is gone, and a pass over the handle still detects the same
    mentions. A later miss of the same content writes the file again under
    the same digest."""
    from pyspark.sql import functions as F

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import (
        detect_mentions_df,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import _SHIP_DIR

    path = _dictionary_copy(fixture_dir, tmp_path)
    turns = spark.read.parquet(f"{fixture_dir}/transcripts.parquet").limit(100)
    bc, _ = _ship(spark, path)
    want = sorted(map(tuple, detect_mentions_df(turns, bc).collect()))
    os.remove(os.path.join(_SHIP_DIR, bc.file_name))
    again, jobs = _ship(spark, path)
    assert jobs == [] and again is bc
    assert sorted(map(tuple, detect_mentions_df(turns, again).collect())) == want
    broadcast_alias_keys(spark, spark.read.parquet(path).withColumn("prior", F.col("prior") / 2))
    again, jobs = _ship(spark, path)
    assert jobs and again is not bc and again.digest == bc.digest
    assert os.path.exists(os.path.join(_SHIP_DIR, bc.file_name))


def test_a_new_spark_context_ships_again(spark, fixture_dir, tmp_path, monkeypatch):
    """Handles belong to the SparkContext that shipped them: under another
    applicationId the same dictionary ships again."""
    from pyspark import SparkContext

    path = _dictionary_copy(fixture_dir, tmp_path)
    bc, _ = _ship(spark, path)
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda sc: "local-other"))
    again, jobs = _ship(spark, path)
    assert jobs and again is not bc


def test_build_kg_after_a_memo_hit_writes_the_same_tables(spark, fixture_dir, tmp_path):
    """A build whose dictionary ship hits the memo writes the same three
    tables as the build that shipped it."""
    path = _dictionary_copy(fixture_dir, tmp_path)
    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    _build_and_write(spark, (transcripts, spark.read.parquet(path)), str(tmp_path / "first"))
    assert _ship(spark, path)[1] == []
    _build_and_write(spark, (transcripts, spark.read.parquet(path)), str(tmp_path / "second"))

    def rows(run, name):
        return sorted(map(repr, spark.read.parquet(str(tmp_path / run / name)).collect()))

    for name in ("kg_edges", "kg_nodes", "kg_edge_stats"):
        assert rows("first", name) == rows("second", name), name


def test_duplicate_keys_ship_every_row_as_a_candidate(spark, tmp_path):
    """8 rows over 4 distinct keys ship in one Spark job as an index of the
    4 keys, carrying both rows of every key as link candidates. The shipped
    file holds the 8 rows sorted by (alias_key, alias, cui, prior)."""
    import pyarrow as pa
    from pyspark import SparkFiles

    keys = ["aspirin", "heart attack", "ibuprofen", "type 2 diabetes"]
    rows = [(k, k.upper(), f"C{i}", i / 10) for i, k in enumerate(keys * 2)]
    path = str(tmp_path / "aliases")
    spark.createDataFrame(
        rows, "alias_key string, alias string, cui string, prior double"
    ).write.parquet(path)
    bc, jobs = _ship(spark, path)
    assert len(jobs) == 1, jobs
    assert _index_keys(bc.value) == set(keys)
    assert {k: sorted(v) for k, v in bc.value.candidates_by_key().items()} == {
        k: sorted((c, a, p) for kk, a, c, p in rows if kk == k) for k in keys}
    with pa.memory_map(SparkFiles.get(bc.file_name)) as f:
        shipped = pa.ipc.open_file(f).read_all()
    assert list(zip(*(c.to_pylist() for c in shipped.columns))) == sorted(rows)


def test_build_kg_job_count(spark, fixture_inputs, tmp_path):
    """A persisted build_kg plus its three table writes takes 6 Spark jobs
    at local[4] (7 with the columnar cache the stored pass replaced): the
    warm-up build shipped the dictionary, so this build's ship hits the
    memo and starts no job; linking runs inside the stored extraction
    pass, so nothing is collected or broadcast and no vocabulary table is
    stored, and kg_edge_stats is one exchange (n_convs from the pass's
    conv_first flags, no distinct-count job)."""
    _build_and_write(spark, fixture_inputs, str(tmp_path / "warm"))
    with job_group(spark, "build") as jobs:
        _build_and_write(spark, fixture_inputs, str(tmp_path / "kg"))
    assert len(jobs) == 6, jobs


def test_build_kg_starts_one_job_only_when_persisted(spark, fixture_inputs):
    """Given a prebuilt alias index, a lazy build_kg starts no Spark job. A
    persisted one starts exactly one: the local checkpoint cuts the pass's
    lineage, which runs the turn-assembly exchange's stage."""
    index = broadcast_alias_keys(spark, fixture_inputs[1])
    with job_group(spark, "lazy_build") as jobs:
        build_kg(spark, *fixture_inputs, persist=False, alias_index=index)
    assert jobs == []
    with job_group(spark, "persisted_build") as jobs:
        kg = build_kg(spark, *fixture_inputs, alias_index=index)
    kg.unpersist()
    assert len(jobs) == 1, jobs


def test_lazy_build_kg_plan_costs_at_most_190_py4j_calls(spark, fixture_inputs):
    """A warm lazy build_kg with a hoisted alias index builds only the plans
    its writes read: at most 190 py4j commands (270 while it also built the
    linking specification's views). Counted on the gateway client, as
    perfbench's tracer counts them. The minimum of three builds is taken,
    because py4j also sends one command per JVM handle that Python garbage
    collects, which can land inside any one build."""
    index = broadcast_alias_keys(spark, fixture_inputs[1])
    build_kg(spark, *fixture_inputs, persist=False, alias_index=index)
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting_send(*a, **k):
        calls[-1] += 1
        return send(*a, **k)

    client.send_command = counting_send
    try:
        for _ in range(3):
            calls.append(0)
            build_kg(spark, *fixture_inputs, persist=False, alias_index=index)
    finally:
        client.send_command = send
    assert min(calls) <= 190, calls


def test_checkpoint_group_job_count(spark, fixture_inputs, tmp_path):
    """A checkpoint group commits in at most 2 Spark jobs, its one unit
    write: the pass is not cached, and its lineage counts ride the write as
    Observations. Four groups plus the dictionary's collect. finalize() writes
    kg_edges, kg_nodes, kg_edge_stats and lineage in at most 6 jobs."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.checkpoint import (
        ResumableKGRun,
    )

    run = ResumableKGRun(spark, str(tmp_path / "ckpt"), buckets=8, group_size=2)
    with job_group(spark, "ckpt_run") as jobs:
        assert run.run(*fixture_inputs)["groups_processed"] == 4
    assert len(jobs) <= 1 + 4 * 2, jobs
    with job_group(spark, "ckpt_finalize") as jobs:
        run.finalize()
    assert len(jobs) <= 6, jobs


def test_unpersist_drops_the_stored_pass(spark, fixture_inputs, tmp_path):
    """After a write fills a persisted build's stored pass, unpersist()
    leaves no storage entry for it, and a second call does nothing. A lazy
    build holds no blocks, and its unpersist() does nothing."""
    sc = spark.sparkContext._jsc.sc()

    def stored() -> set:
        return {i.id() for i in sc.getRDDStorageInfo()}

    before = stored()
    kg = build_kg(spark, *fixture_inputs)
    rdd_id = kg.unified._jdf.queryExecution().analyzed().rdd().id()
    kg.kg_edges.write.parquet(str(tmp_path / "kg_edges"))
    assert rdd_id in stored()
    kg.unpersist()
    assert rdd_id not in stored()
    kg.unpersist()
    assert stored() <= before

    lazy = build_kg(spark, *fixture_inputs, persist=False)
    lazy.kg_edges.write.parquet(str(tmp_path / "lazy_edges"))
    assert stored() <= before
    lazy.unpersist()
    assert stored() <= before


def _plan_above_stored_pass(spark, fixture_inputs, table: str, path: str) -> str:
    """The final plan of a persisted build's `table` write, cut at the
    stored extraction's `ExistingRDD` scan, which must be its only scan."""
    kg = build_kg(spark, *fixture_inputs)
    try:
        getattr(kg, table).write.parquet(path)
        plan = write_plan(spark, path)
    finally:
        kg.unpersist()
    lines = plan.splitlines()
    scan = next(i for i, l in enumerate(lines) if "Scan ExistingRDD" in l)
    assert [l for l in lines if "Scan" in l] == [lines[scan]], plan
    return "\n".join(lines[:scan])


def test_kg_edges_write_reads_only_the_cached_pass(spark, fixture_inputs, tmp_path):
    """The kg_edges write of a persisted build is a filter of the stored
    extraction's `ExistingRDD` scan, whose pass already linked both
    endpoints: no exchange, no join, no broadcast, and neither the kernel
    nor the transcripts' scan runs again."""
    plan = _plan_above_stored_pass(spark, fixture_inputs, "kg_edges",
                                   str(tmp_path / "kg_edges"))
    assert count_nodes(plan, "Exchange") == 0, plan
    assert "Join" not in plan and count_nodes(plan, "BroadcastExchange") == 0, plan
    assert "MapInArrow" not in plan, plan


def test_kg_nodes_write_has_one_exchange_above_the_cache(spark, fixture_inputs, tmp_path):
    """kg_nodes groups the stored pass's linked vocabulary rows by cui: the
    write's final plan has exactly one exchange above the stored
    extraction, and no join or broadcast."""
    plan = _plan_above_stored_pass(spark, fixture_inputs, "kg_nodes",
                                   str(tmp_path / "kg_nodes"))
    assert count_nodes(plan, "Exchange") == 1, plan
    assert "Join" not in plan and count_nodes(plan, "BroadcastExchange") == 0, plan


def test_kg_edge_stats_write_has_one_exchange_above_the_cache(spark, fixture_inputs, tmp_path):
    """kg_edge_stats counts n_convs from the pass's conv_first flags: the
    write's final plan has exactly one exchange above the stored
    extraction, keyed by edge, no join or broadcast, and no Expand or
    (edge, conv_id) exchange for a distinct count."""
    plan = _plan_above_stored_pass(spark, fixture_inputs, "kg_edge_stats",
                                   str(tmp_path / "kg_edge_stats"))
    assert count_nodes(plan, "Exchange") == 1, plan
    assert "Join" not in plan and count_nodes(plan, "BroadcastExchange") == 0, plan
    assert count_nodes(plan, "Expand") == 0, plan


def test_lazy_resolution_scores_without_a_window_exchange(spark, fixture_inputs):
    """At local[4] the specification's resolution over a lazy build's pass
    scores its vocabulary in one task and the scoring pass keeps that
    partition, so its final plan has only the turn-assembly and
    mention-stats exchanges."""
    kg = build_kg(spark, *fixture_inputs, persist=False)
    res = resolution_table(candidate_table(mention_stats_view(kg.unified), fixture_inputs[1]))
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


def test_minhash_dedup_plan(spark, fixture_dir):
    """minhash_dedup's banding and verify branches read two aggregates of
    the shingle table: column pruning gives the banding branch
    (id, h0..h15) and the verify branch (id, n, hs). So the corpus is
    scanned twice and shuffled twice, and the band self-join's other side
    reuses the signature exchange. A change that merges the two aggregates,
    or splits them further, goes red here."""
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
                if "FileScan" in l and "transcripts" in l]) == 2, plan
    assert count_nodes(plan, "Exchange") == 2, plan
    assert count_nodes(plan, "ReusedExchange") >= 1, plan
