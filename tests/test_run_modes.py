"""Run-mode equivalence, after SNIPPETS [2]'s `assert_gpu_and_cpu_are_equal_collect`
with run modes in place of engines: the batch build, the checkpointed runner
and the streaming ingest all call `build_kg`, so they must commit the same
tables."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from knowledge_graph_integration_rag_biomedical_qna_spark.plans.checkpoint import (
    ResumableKGRun,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
    broadcast_alias_keys,
    build_kg,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import (
    TRANSCRIPTS_SCHEMA,
)
from knowledge_graph_integration_rag_biomedical_qna_spark.streaming.ingest import (
    start_kg_stream,
)

WATERMARK_ALL = "36500 days"  # wider than any input's event-time span
# conversations carrying the hot edge: approx_count_distinct is off at this count
HOT_CONVS = 300


def _canon(df, drop: str | None = None) -> pd.DataFrame:
    """A table as pandas, in a total order, array columns as tuples."""
    pdf = (df.drop(drop) if drop else df).toPandas()
    if "surfaces" in pdf:
        pdf["surfaces"] = pdf["surfaces"].map(tuple)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def assert_modes_equal(spark, transcripts: pd.DataFrame, aliases, tmp_path) -> pd.DataFrame:
    """Run batch, checkpointed (8 buckets, groups of 2) and streamed modes
    over the same source: three files plus a file re-sending the first 50
    turns (at-least-once delivery). kg_edges must match across all three;
    kg_nodes and kg_edge_stats, every column, between batch and checkpointed.
    Returns the batch kg_edge_stats."""
    src = tmp_path / "src"
    src.mkdir()
    third = len(transcripts) // 3
    for i, part in enumerate((transcripts.iloc[:third], transcripts.iloc[third:2 * third],
                              transcripts.iloc[2 * third:])):
        part.to_parquet(src / f"part-{i}.parquet", index=False)
    transcripts.iloc[:50].to_parquet(src / "part-3-dupes.parquet", index=False)
    source = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(str(src))

    kg = build_kg(spark, source, aliases)
    edges, nodes, stats = (_canon(kg.kg_edges), _canon(kg.kg_nodes), _canon(kg.kg_edge_stats))
    kg.unpersist()
    assert len(edges) > 0

    ckpt = str(tmp_path / "ckpt")
    run = ResumableKGRun(spark, ckpt, buckets=8, group_size=2)
    assert run.run(source, aliases)["complete"]
    run.finalize()

    stream = str(tmp_path / "stream")
    q = start_kg_stream(spark, str(src), stream, aliases, broadcast_alias_keys(spark, aliases),
                        watermark=WATERMARK_ALL)
    q.awaitTermination(timeout=300)
    assert not q.isActive, "stream did not drain within 300 s"

    read = spark.read.parquet
    pd.testing.assert_frame_equal(_canon(read(f"{ckpt}/kg_edges")), edges)
    pd.testing.assert_frame_equal(_canon(read(f"{stream}/kg_edges_stream"), "epoch"), edges)
    pd.testing.assert_frame_equal(_canon(read(f"{ckpt}/kg_nodes")), nodes)
    pd.testing.assert_frame_equal(_canon(read(f"{ckpt}/kg_edge_stats")), stats)
    return stats


def test_modes_equal_on_fixture(spark, fixture_dir, tables, tmp_path):
    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    assert_modes_equal(spark, tables["transcripts"], aliases, tmp_path)


def test_modes_equal_on_hot_edge(spark, fixture_dir, tables, tmp_path):
    """One triple-bearing sentence in HOT_CONVS conversations: the edge's
    n_convs must be exact in every mode (an HLL sketch is not)."""
    names = tables["concept_aliases"]["alias"].unique()
    sentence = f"{names[0]} inhibits {names[-1]}."
    hot = pd.DataFrame({
        "conv_id": [f"hot_{i:04d}" for i in range(HOT_CONVS)],
        "turn_idx": np.zeros(HOT_CONVS, dtype="int32"),
        "role": "user",
        "text": sentence,
        "tool": "",
        "ts": pd.date_range("2026-01-01", periods=HOT_CONVS, freq="s").astype("datetime64[us]"),
    })
    ids = spark.createDataFrame(hot[["conv_id"]])
    # the input exercises the defect: a sketch count misses the exact one
    assert ids.agg(F.approx_count_distinct("conv_id")).first()[0] != HOT_CONVS

    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    stats = assert_modes_equal(spark, hot, aliases, tmp_path)
    assert stats["n_convs"].tolist() == [HOT_CONVS]


def test_sliced_kernel_builds_the_same_kg(spark, fixture_dir, monkeypatch):
    """The extraction kernel cut to 64-byte slices in every Python worker:
    build_kg commits the same kg_edges, kg_nodes and kg_edge_stats as at the
    default bound, n_convs included, on the fixture with its hot entity (the
    per-task link memo, mention partials and conv_first flags span the
    slices)."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators import extraction

    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")

    def built():
        kg = build_kg(spark, transcripts, aliases)
        out = [_canon(t) for t in (kg.kg_edges, kg.kg_nodes, kg.kg_edge_stats)]
        kg.unpersist()
        return out

    want = built()
    slices = spark.sparkContext.accumulator(0)

    # the pass body pickles the module's kernel_batches by value at plan
    # build, so this wrapper runs in the workers and sets their bound
    def sliced(batches, index, kernel=extraction.kernel_batches):
        from knowledge_graph_integration_rag_biomedical_qna_spark.core import vectorized

        saved, vectorized.KERNEL_SLICE_BYTES = vectorized.KERNEL_SLICE_BYTES, 64
        try:
            for rb in kernel(batches, index):
                slices.add(1)
                yield rb
        finally:
            vectorized.KERNEL_SLICE_BYTES = saved

    monkeypatch.setattr(extraction, "kernel_batches", sliced)
    got = built()
    assert slices.value > 500, slices.value  # the workers ran 64-byte slices
    assert want[2]["n_convs"].max() > 1
    for g, w in zip(got, want):
        pd.testing.assert_frame_equal(g, w)
