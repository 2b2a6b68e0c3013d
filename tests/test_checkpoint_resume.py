"""Kill-and-resume test (SURVEY.md §5): run the checkpointed materialization,
abort after m of n bucket groups, resume, and require the final tables to be
identical to a single-shot run. Also checks lineage metrics coverage."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from knowledge_graph_integration_rag_biomedical_qna_spark.plans.checkpoint import (
    ResumableKGRun,
)

TRIPLE_KEY = ["conv_id", "turn_idx", "subj_cui", "pred", "obj_cui"]


def _edges(spark, out_dir) -> pd.DataFrame:
    return (
        spark.read.parquet(f"{out_dir}/kg_edges")
        .drop("bucket")
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


def test_lineage_metrics(spark, inputs, tmp_path):
    transcripts, aliases = inputs
    out = str(tmp_path / "lineage_run")
    run = ResumableKGRun(spark, out, buckets=4, group_size=4)
    run.run(transcripts, aliases)
    lineage = spark.read.parquet(f"{out}/lineage").toPandas()
    assert sorted(lineage["bucket"].unique()) == [0, 1, 2, 3]
    assert (lineage["turns_in"] > 0).all()
    assert lineage["edges"].sum() > 0
    # triple-count conservation: lineage edge counts == materialized edges
    edges = spark.read.parquet(f"{out}/kg_edges")
    assert int(lineage["edges"].sum()) == edges.count()


def _sorted_table(spark, path: str, key: list[str]) -> pd.DataFrame:
    pdf = spark.read.parquet(path).toPandas()
    if "surfaces" in pdf:
        pdf["surfaces"] = pdf["surfaces"].map(list)
    return pdf.sort_values(key).reset_index(drop=True)


def test_crash_before_marker_resume_with_other_group_size(spark, inputs, tmp_path, monkeypatch):
    """A group that fails after its node-partial write and before its done
    marker leaves a partial under an unmarked commit_group. A resume with
    another group size re-covers those buckets under new group keys, so
    finalize must read only the marked groups' partials, or the crashed
    group's nodes count twice."""
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
    assert os.path.isdir(f"{crashed}/node_partials/commit_group=2-3")

    resumed = ResumableKGRun(spark, crashed, buckets=8, group_size=4)
    s = resumed.run(transcripts, aliases)
    assert s["complete"] and s["groups_processed"] == 2
    resumed.finalize()

    # lineage: the crashed group's rows are replaced, not kept beside the
    # resumed groups' rows
    lineage = spark.read.parquet(f"{crashed}/lineage").toPandas()
    assert sorted(lineage["bucket"]) == list(range(8))
    assert int(lineage["edges"].sum()) == spark.read.parquet(f"{crashed}/kg_edges").count()

    for table, key in (("kg_nodes", ["cui"]),
                       ("kg_edge_stats", ["subj_cui", "pred", "obj_cui"])):
        pd.testing.assert_frame_equal(
            _sorted_table(spark, f"{crashed}/{table}", key),
            _sorted_table(spark, f"{single}/{table}", key),
        )
