"""Kill-and-resume test (SURVEY.md §5): run the checkpointed materialization,
abort after m of n bucket groups, resume, and require the final tables to be
identical to a single-shot run. Also checks the run records and the lineage
table finalize() builds from them."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import triples_view
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.checkpoint import (
    ResumableKGRun,
    bucket_of,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import build_kg

TRIPLE_KEY = ["conv_id", "turn_idx", "subj_cui", "pred", "obj_cui"]


def _edges(spark, out_dir) -> pd.DataFrame:
    return (
        spark.read.parquet(f"{out_dir}/kg_edges")
        .toPandas()
        .sort_values(TRIPLE_KEY + ["subj_surface", "obj_surface"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def inputs(spark, fixture_dir):
    return (
        spark.read.parquet(f"{fixture_dir}/transcripts.parquet"),
        spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet"),
    )


def test_resume_produces_identical_tables(spark, inputs, tmp_path):
    transcripts, aliases = inputs
    single = str(tmp_path / "single")
    resumed = str(tmp_path / "resumed")

    # single-shot run
    run1 = ResumableKGRun(spark, single, buckets=8, group_size=2)
    s = run1.run(transcripts, aliases)
    assert s["complete"]
    run1.finalize()

    # crashed run: only 2 of 4 groups committed
    run2 = ResumableKGRun(spark, resumed, buckets=8, group_size=2)
    s1 = run2.run(transcripts, aliases, max_groups=2)
    assert not s1["complete"] and len(s1["buckets_done"]) == 4

    # resume: picks up exactly the remaining buckets
    s2 = ResumableKGRun(spark, resumed, buckets=8, group_size=2).run(transcripts, aliases)
    assert s2["complete"]
    ResumableKGRun(spark, resumed, buckets=8, group_size=2).finalize()

    e1, e2 = _edges(spark, single), _edges(spark, resumed)
    pd.testing.assert_frame_equal(e1, e2)

    n1 = spark.read.parquet(f"{single}/kg_nodes").toPandas().sort_values("cui").reset_index(drop=True)
    n2 = spark.read.parquet(f"{resumed}/kg_nodes").toPandas().sort_values("cui").reset_index(drop=True)
    assert n1["cui"].tolist() == n2["cui"].tolist()
    assert n1["mention_count"].tolist() == n2["mention_count"].tolist()

    # rerun on a complete output is a no-op
    s3 = ResumableKGRun(spark, resumed, buckets=8, group_size=2).run(transcripts, aliases)
    assert s3["groups_processed"] == 0 and s3["complete"]


def _bucket_counts(df, buckets: int) -> dict[int, int]:
    """Rows of `df` per checkpoint bucket, counted in pandas."""
    pdf = df.select(bucket_of("conv_id", buckets).alias("bucket")).toPandas()
    return {int(b): int(n) for b, n in pdf["bucket"].value_counts().items()}


def _write_plan(spark, path: str) -> str:
    """The physical plan of the last write to `path`, from the SQL status
    store (drained first: it is filled after the action returns)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        desc = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in desc and path in desc:
            return desc
    raise AssertionError(f"no write to {path} in the status store")


def test_lineage_metrics(spark, inputs, tmp_path):
    """finalize() writes lineage from the done markers, one row per bucket,
    and each count equals a job-based recount: turns_in the bucket's input
    rows, raw_triples and edges the batch build's raw triples and kg_edges
    grouped by bucket."""
    transcripts, aliases = inputs
    out = str(tmp_path / "lineage_run")
    run = ResumableKGRun(spark, out, buckets=4, group_size=4)
    summary = run.run(transcripts, aliases)
    run.finalize()
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.schema.simpleString() == (
        "struct<turns_in:bigint,raw_triples:bigint,edges:bigint,wall_sec:double,"
        "committed_at:timestamp,commit_group:string,bucket:int>"
    )
    # built from a VALUES literal: no RDD scan, so no second Python worker pool
    assert "ExistingRDD" not in _write_plan(spark, f"{out}/lineage")
    lineage = lineage.toPandas().set_index("bucket").sort_index()
    assert lineage.index.tolist() == [0, 1, 2, 3]
    assert (lineage["commit_group"] == "0-3").all()
    # triple-count conservation: lineage edge counts == materialized edges
    edges = spark.read.parquet(f"{out}/kg_edges")
    assert int(lineage["edges"].sum()) == edges.count()

    kg = build_kg(spark, transcripts, aliases)
    try:
        expected = {
            "turns_in": _bucket_counts(transcripts, 4),
            "raw_triples": _bucket_counts(triples_view(kg.unified), 4),
            "edges": _bucket_counts(kg.kg_edges, 4),
        }
    finally:
        kg.unpersist()
    for col, counts in expected.items():
        assert lineage[col].to_dict() == counts, col

    # run() returns the group's run record, the marker's content
    (record,) = summary["records"]
    assert record["buckets"] == [0, 1, 2, 3]
    assert record["edges"] == lineage["edges"].tolist()
    assert record["wall_sec"] == lineage["wall_sec"].iloc[0]
    # the session time zone is UTC; the marker's ISO string carries +00:00
    committed = lineage["committed_at"].dt.tz_localize("UTC")
    assert (committed == pd.Timestamp(record["committed_at"])).all()


def test_record_of_groups_without_extraction_rows(spark, inputs, tmp_path):
    """Pins the run record of a group whose turns yield no extraction rows
    (counts 0, observed) and of a group with no input rows: its input
    Observation sits below stage [1]'s shuffle, which comes out empty, so
    AQE prunes it and turns_in is recorded as null (unavailable), never 0."""
    from pyspark.sql import functions as F

    transcripts, aliases = inputs
    bucket = bucket_of("conv_id", 8)
    src = transcripts.filter(~bucket.isin(2, 3)).withColumn(
        "text", F.when(bucket.isin(0, 1), F.lit("zzz qqq.")).otherwise(F.col("text"))
    )
    out = str(tmp_path / "empty_groups")
    run = ResumableKGRun(spark, out, buckets=8, group_size=2)
    no_rows, no_input, _ = run.run(src, aliases, max_groups=3)["records"]
    turns = _bucket_counts(src, 8)
    assert no_rows["buckets"] == [0, 1] and no_input["buckets"] == [2, 3]
    assert no_rows["turns_in"] == [turns[0], turns[1]]
    assert no_rows["raw_triples"] == no_rows["edges"] == [0, 0]
    assert no_input["turns_in"] == [None, None]
    assert no_input["raw_triples"] == no_input["edges"] == [0, 0]

    run.finalize()
    lineage = spark.read.parquet(f"{out}/lineage").toPandas().set_index("bucket").sort_index()
    assert lineage.index.tolist() == list(range(6))
    assert lineage["turns_in"].isna().tolist() == [False, False, True, True, False, False]


def test_finalize_writes_empty_tables_when_no_group_linked(spark, inputs, tmp_path):
    """One turn that hits no dictionary alias: both groups commit, but no
    unit write leaves a data file. finalize() reads the units with the
    schema the done markers record, so it writes empty kg_edges, kg_nodes
    and kg_edge_stats and one lineage row per bucket instead of failing to
    infer a schema."""
    import datetime as dt

    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import (
        TRANSCRIPTS_SCHEMA,
    )

    _, aliases = inputs
    turn = spark.createDataFrame([("c1", 0, "user", "zzz qqq.", None, dt.datetime(2026, 1, 1))],
                                 TRANSCRIPTS_SCHEMA)
    out = str(tmp_path / "no_links")
    run = ResumableKGRun(spark, out, buckets=2, group_size=1)
    assert run.run(turn, aliases)["complete"]
    run.finalize()
    assert spark.read.parquet(f"{out}/kg_edges").count() == 0
    nodes = spark.read.parquet(f"{out}/kg_nodes")
    stats = spark.read.parquet(f"{out}/kg_edge_stats")
    assert nodes.columns == ["cui", "surfaces", "mention_count"] and nodes.count() == 0
    assert stats.columns == ["subj_cui", "pred", "obj_cui", "n_evidence", "avg_confidence",
                             "n_convs"] and stats.count() == 0
    assert sorted(r.bucket for r in spark.read.parquet(f"{out}/lineage").collect()) == [0, 1]


def test_finalize_without_resume_reads_only_marked_groups(spark, inputs, tmp_path, monkeypatch):
    """A group that crashed before its done marker has written its unit,
    but finalize() without a resume must leave it out of every table and
    its buckets out of lineage."""
    transcripts, aliases = inputs
    out = str(tmp_path / "crashed")
    real_replace = os.replace

    def crash_on_second_marker(src, dst):
        if dst.endswith("group-2-3.json"):
            raise OSError("injected crash before the done marker")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_second_marker)
    run = ResumableKGRun(spark, out, buckets=8, group_size=2)
    with pytest.raises(OSError, match="injected crash"):
        run.run(transcripts, aliases)
    monkeypatch.undo()
    assert os.path.isdir(f"{out}/units/commit_group=2-3")
    units = spark.read.parquet(f"{out}/units")
    assert sorted(r.commit_group for r in units.select("commit_group").distinct().collect()) == [
        "0-1", "2-3"]

    run.finalize()
    marked = units.filter("commit_group = '0-1' AND kind = 't'").count()
    assert spark.read.parquet(f"{out}/kg_edges").count() == marked
    stats = spark.read.parquet(f"{out}/kg_edge_stats").toPandas()
    assert int(stats["n_evidence"].sum()) == marked
    lineage = spark.read.parquet(f"{out}/lineage").toPandas()
    assert sorted(lineage["bucket"]) == [0, 1]
    assert int(lineage["edges"].sum()) == marked


def test_rewrite_of_no_rows_replaces_a_crashed_unit(spark, inputs, tmp_path, monkeypatch):
    """A group crashes before its marker under one dictionary, and the
    resume runs under a dictionary that links nothing (no marker records
    the first). The resumed unit write has no rows but must still replace
    the crashed unit, or its stale links reach the finalized tables."""
    from pyspark.sql import functions as F

    transcripts, aliases = inputs
    out = str(tmp_path / "crashed")
    real_replace = os.replace

    def crash_on_marker(src, dst):
        if dst.endswith(".json"):
            raise OSError("injected crash before the done marker")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_marker)
    with pytest.raises(OSError, match="injected crash"):
        ResumableKGRun(spark, out, buckets=8, group_size=2).run(transcripts, aliases)
    monkeypatch.undo()
    assert spark.read.parquet(f"{out}/units/commit_group=0-1").count() > 0

    unlinkable = aliases.withColumn("alias_key", F.concat(F.lit("zzqq "), "alias_key"))
    run = ResumableKGRun(spark, out, buckets=8, group_size=2)
    assert run.run(transcripts, unlinkable)["complete"]
    run.finalize()
    for table in ("kg_edges", "kg_nodes", "kg_edge_stats"):
        assert spark.read.parquet(f"{out}/{table}").count() == 0, table


def _sorted_table(spark, path: str, key: list[str]) -> pd.DataFrame:
    pdf = spark.read.parquet(path).toPandas()
    if "surfaces" in pdf:
        pdf["surfaces"] = pdf["surfaces"].map(list)
    return pdf.sort_values(key).reset_index(drop=True)


def test_crash_before_marker_resume_with_other_group_size(spark, inputs, tmp_path, monkeypatch):
    """A group that fails after its unit write and before its done marker
    leaves a unit under an unmarked commit_group. A resume with another
    group size re-covers those buckets under new group keys, so finalize
    must read only the marked groups' units, or the crashed group's rows
    count twice."""
    transcripts, aliases = inputs
    single = str(tmp_path / "single")
    run = ResumableKGRun(spark, single, buckets=8, group_size=2)
    assert run.run(transcripts, aliases)["complete"]
    run.finalize()

    crashed = str(tmp_path / "crashed")
    real_replace = os.replace

    def crash_on_second_marker(src, dst):
        if dst.endswith("group-2-3.json"):
            raise OSError("injected crash before the done marker")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_second_marker)
    with pytest.raises(OSError, match="injected crash"):
        ResumableKGRun(spark, crashed, buckets=8, group_size=2).run(transcripts, aliases)
    monkeypatch.undo()
    assert os.path.isdir(f"{crashed}/units/commit_group=2-3")

    resumed = ResumableKGRun(spark, crashed, buckets=8, group_size=4)
    s = resumed.run(transcripts, aliases)
    assert s["complete"] and s["groups_processed"] == 2
    resumed.finalize()

    # lineage: the crashed group's rows are replaced, not kept beside the
    # resumed groups' rows
    lineage = spark.read.parquet(f"{crashed}/lineage").toPandas()
    assert sorted(lineage["bucket"]) == list(range(8))
    assert int(lineage["edges"].sum()) == spark.read.parquet(f"{crashed}/kg_edges").count()

    for table, key in (("kg_edges", TRIPLE_KEY + ["subj_surface", "obj_surface"]),
                       ("kg_nodes", ["cui"]),
                       ("kg_edge_stats", ["subj_cui", "pred", "obj_cui"])):
        pd.testing.assert_frame_equal(
            _sorted_table(spark, f"{crashed}/{table}", key),
            _sorted_table(spark, f"{single}/{table}", key),
        )


def test_resume_with_other_bucket_count_raises(spark, inputs, tmp_path):
    """Bucket ids name conversations only under the bucket count that wrote
    them: after one committed group at 8 buckets, a resume at 4 would skip
    4-bucket ids 0 and 1 and never process their conversations that sit in
    8-bucket ids 4 and 5. Both the resume and finalize must refuse."""
    transcripts, aliases = inputs
    out = str(tmp_path / "crashed")
    s = ResumableKGRun(spark, out, buckets=8, group_size=2).run(
        transcripts, aliases, max_groups=1
    )
    assert s["buckets_done"] == [0, 1]
    other = ResumableKGRun(spark, out, buckets=4, group_size=2)
    with pytest.raises(ValueError, match="n_buckets=8.*n_buckets=4"):
        other.run(transcripts, aliases)
    with pytest.raises(ValueError, match="n_buckets=8.*n_buckets=4"):
        other.finalize()


@pytest.mark.parametrize("init,max_groups", [
    ({"buckets": 0}, None),        # would report complete with no group committed
    ({"group_size": 0}, None),     # would make no groups: never complete
    ({"group_size": -1}, None),
    ({}, -1),                      # would silently drop the last group
])
def test_counts_that_do_no_work_raise_before_spark(tmp_path, init, max_groups):
    """Bucket counts, group sizes and group limits come from run_kg.py's
    command line; one that commits nothing, or drops a group, raises before
    any Spark call (no session and no inputs are passed) and writes
    nothing."""
    out = tmp_path / "out"
    with pytest.raises(ValueError, match=r"must be >= [01]"):
        ResumableKGRun(None, str(out), **init).run(None, None, max_groups=max_groups)
    assert not out.exists()


def test_resume_with_a_changed_dictionary_raises(spark, inputs, tmp_path):
    """The dictionary decides every link, so groups committed under one
    dictionary must not be mixed with groups linked by another: a resume
    whose dictionary differs in one prior raises, a resume with the
    original dictionary completes, and finalize refuses markers that name
    different dictionaries."""
    import json

    from pyspark.sql import functions as F

    transcripts, aliases = inputs
    out = str(tmp_path / "crashed")
    run = ResumableKGRun(spark, out, buckets=8, group_size=2)
    assert run.run(transcripts, aliases, max_groups=1)["buckets_done"] == [0, 1]

    first = aliases.orderBy("alias_key", "cui", "alias").first()
    changed = aliases.withColumn("prior", F.when(
        (F.col("alias_key") == first["alias_key"]) & (F.col("cui") == first["cui"])
        & (F.col("alias") == first["alias"]), F.col("prior") + 0.01,
    ).otherwise(F.col("prior")))
    with pytest.raises(ValueError, match="written with dictionary"):
        run.run(transcripts, changed)

    assert run.run(transcripts, aliases)["complete"]
    run.finalize()

    done = os.path.join(out, "_done")
    marker = os.path.join(done, sorted(os.listdir(done))[0])
    with open(marker) as fh:
        m = json.load(fh)
    m["dict_digest"] = "sha256-other"
    with open(marker, "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match="different dictionaries"):
        run.finalize()


def test_marker_of_the_older_layout_raises(spark, inputs, tmp_path):
    """A done marker that records no `units` schema was written by the
    older per-table layout, whose groups finalize cannot read: a resume
    and finalize name the output dir and raise."""
    import json

    transcripts, aliases = inputs
    out = str(tmp_path / "old_layout")
    run = ResumableKGRun(spark, out, buckets=8, group_size=2)
    assert run.run(transcripts, aliases, max_groups=1)["buckets_done"] == [0, 1]
    marker = os.path.join(out, "_done", "group-0-1.json")
    with open(marker) as fh:
        m = json.load(fh)
    m["schemas"] = {"kg_edges": m["schemas"]["units"], "node_partials": "cui string"}
    with open(marker, "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match=f"{out}: .*no units table"):
        run.run(transcripts, aliases)
    with pytest.raises(ValueError, match=f"{out}: .*no units table"):
        run.finalize()


def _tables(spark, out: str) -> dict[str, pd.DataFrame]:
    """The four finalized tables in a total order; lineage without its
    wall-clock columns."""
    from test_run_modes import _canon

    read = spark.read.parquet
    return {
        **{t: _canon(read(f"{out}/{t}")) for t in ("kg_edges", "kg_nodes", "kg_edge_stats")},
        "lineage": _canon(read(f"{out}/lineage").drop("wall_sec", "committed_at")),
    }


@pytest.fixture(scope="module")
def uninterrupted(spark, inputs, tmp_path_factory) -> dict[str, pd.DataFrame]:
    out = str(tmp_path_factory.mktemp("uninterrupted"))
    run = ResumableKGRun(spark, out, buckets=8, group_size=2)
    assert run.run(*inputs)["complete"]
    run.finalize()
    return _tables(spark, out)


# (commit point, the call to crash): the unit write and the done marker of
# the second and of the last of four groups, and finalize's first write
CRASH_POINTS = [("unit", 2), ("unit", 4), ("marker", 2), ("marker", 4), ("finalize", 1)]


@pytest.mark.parametrize("point,k", CRASH_POINTS)
def test_crash_at_a_commit_point_then_resume_equals_uninterrupted(
        spark, inputs, uninterrupted, tmp_path, monkeypatch, point, k):
    """The k-th call at one commit point raises. A resume and finalize
    then write kg_edges, kg_nodes, kg_edge_stats and lineage equal to an
    uninterrupted run's."""
    from pyspark.sql import DataFrameWriter

    from knowledge_graph_integration_rag_biomedical_qna_spark.plans import checkpoint

    owner, name, hit = {
        "unit": (checkpoint, "_overwrite", lambda df, path: True),
        "marker": (os, "replace", lambda src, dst: dst.endswith(".json")),
        "finalize": (DataFrameWriter, "parquet",
                     lambda writer, path, *a, **kw: not path.endswith("units")),
    }[point]
    real, calls = getattr(owner, name), []

    def crash(*a, **kw):
        if hit(*a, **kw):
            calls.append(a)
            if len(calls) == k:
                raise OSError(f"injected crash at {point} call {k}")
        return real(*a, **kw)

    out = str(tmp_path / "crashed")
    run = ResumableKGRun(spark, out, buckets=8, group_size=2)
    monkeypatch.setattr(owner, name, crash)
    with pytest.raises(OSError, match="injected crash"):
        run.run(*inputs)
        run.finalize()
    monkeypatch.undo()

    assert run.run(*inputs)["complete"]
    run.finalize()
    got = _tables(spark, out)
    for table, want in uninterrupted.items():
        pd.testing.assert_frame_equal(got[table], want, obj=table)


def test_resume_with_the_same_rows_held_by_the_driver(spark, inputs, uninterrupted, tmp_path):
    """The dictionary's digest names its rows, not how they were read: a run
    with the dictionary read from parquet (collected by a Spark job),
    resumed with the same rows as a LocalRelation (collected with none),
    does not raise, and finalize writes the uninterrupted run's tables."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import values_df

    transcripts, aliases = inputs
    driver_held = values_df(spark, [tuple(r) for r in aliases.collect()],
                            "alias_key string, alias string, cui string, prior double")
    out = str(tmp_path / "crashed")
    run = ResumableKGRun(spark, out, buckets=8, group_size=2)
    assert run.run(transcripts, aliases, max_groups=1)["buckets_done"] == [0, 1]
    assert run.run(transcripts, driver_held)["complete"]
    run.finalize()
    got = _tables(spark, out)
    for table, want in uninterrupted.items():
        pd.testing.assert_frame_equal(got[table], want, obj=table)
