"""Source tests: tolerant JSONL ingestion + table IO abstraction."""

from __future__ import annotations

from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import TableIO
from knowledge_graph_integration_rag_biomedical_qna_spark.sources.jsonl import (
    read_transcripts_jsonl,
)


def test_jsonl_permissive_ingest(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    lines = [
        '{"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hello.", "tool": "", "ts": "2026-01-01T00:00:00"}',
        '{"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "hi.", "tool": "", "ts": "2026-01-01T00:00:01"}',
        "this is not json at all {{{",
        '{"conv_id": null, "turn_idx": 5, "text": "orphan"}',
        '{"conv_id": "c2", "turn_idx": 0, "text": "minimal"}',
    ]
    p.write_text("\n".join(lines))
    good, bad = read_transcripts_jsonl(spark, str(p))
    g = good.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(g) == 3
    # defaults filled for the minimal record
    row = g[g["conv_id"] == "c2"].iloc[0]
    assert row["role"] == "user" and row["tool"] == ""
    assert bad.count() == 2


def test_table_io_replace_roundtrip(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    assert not io.iceberg  # no Iceberg runtime in this image -> parquet mode
    df = spark.range(10).withColumnRenamed("id", "x")
    io.replace(df, "t1")
    assert io.exists("t1")
    assert io.read("t1").count() == 10
    # replace is atomic create-or-replace
    io.replace(spark.range(3).withColumnRenamed("id", "x"), "t1")
    assert io.read("t1").count() == 3
    io.append(spark.range(2).withColumnRenamed("id", "x"), "t1")
    assert io.read("t1").count() == 5


def test_json_array_scan(spark, tmp_path):
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.jsonl import (
        read_json_array,
    )

    p = tmp_path / "arr.json"
    p.write_text('[{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]')
    df = read_json_array(spark, str(p))
    rows = sorted((r["a"], r["b"]) for r in df.collect())
    assert rows == [(1, "x"), (2, "y")]


# --- Iceberg-branch contract (catalog mocked: the jar is absent in this
# container, but the branch's Python — naming, call chains, partitionedBy
# argument construction — must not be dead code) ---------------------------


class _Recorder:
    def __init__(self, calls, name):
        self._calls = calls
        self._name = name

    def __call__(self, *a, **k):
        self._calls.append((self._name, a))
        return self

    def __getattr__(self, attr):
        return _Recorder(self._calls, f"{self._name}.{attr}")


def test_tableio_iceberg_branch_contract(spark, tmp_path):
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import TableIO

    io = TableIO(spark, str(tmp_path), catalog="cat")
    io.iceberg = True  # force the branch; catalog surfaces are recorded fakes

    calls = []
    df = spark.range(3).selectExpr("id", "id % 2 AS p")

    class _FakeDF:
        def writeTo(self, name):
            calls.append(("writeTo", (name,)))
            return _Recorder(calls, "w")

    io.replace(_FakeDF(), "edges", partition_by=["p"])
    assert calls[0] == ("writeTo", ("cat.db.edges",))
    assert any(n.endswith("partitionedBy") for n, _ in calls[1:]), calls
    assert any(n.endswith("createOrReplace") for n, _ in calls[1:]), calls

    calls.clear()
    io.append(_FakeDF(), "edges")
    assert calls[0] == ("writeTo", ("cat.db.edges",))
    assert any(n.endswith("append") for n, _ in calls[1:]), calls

    class _FakeCatalog:
        def tableExists(self, name):
            calls.append(("tableExists", (name,)))
            return True

    class _FakeReader:
        def table(self, name):
            calls.append(("read.table", (name,)))
            return df

    class _FakeSpark:
        catalog = _FakeCatalog()
        read = _FakeReader()

    io.spark = _FakeSpark()
    calls.clear()
    assert io.exists("edges") is True
    assert calls == [("tableExists", ("cat.db.edges",))]
    got = io.read("edges")
    assert got is df and ("read.table", ("cat.db.edges",)) in calls

    # partitionedBy builds real Column objects from the live session
    io2 = TableIO(spark, str(tmp_path))
    assert io2.iceberg is False  # probe correctly reports the jar absent


def test_alias_broadcast_file_backed_escape_hatch(spark, fixture_dir, tmp_path):
    """Above max_broadcast_keys the dictionary never rides the driver: the
    index is built per-worker from an executor-written parquet side-file, and
    the extraction output is IDENTICAL to the broadcast path."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import (
        extract_all_df,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        FileBackedAliasIndex,
        broadcast_alias_keys,
    )

    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet").limit(200)
    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")

    bc = broadcast_alias_keys(spark, aliases)
    fb = broadcast_alias_keys(
        spark, aliases, max_broadcast_keys=3, spill_dir=str(tmp_path)
    )
    assert isinstance(fb, FileBackedAliasIndex)

    cols = ["conv_id", "turn_idx", "sent_idx", "kind", "mention_idx",
            "surface", "alias_key", "subj_key", "pred", "obj_key"]
    a = extract_all_df(transcripts, bc).select(cols).toPandas()
    b = extract_all_df(transcripts, fb).select(cols).toPandas()
    a = a.sort_values(cols).reset_index(drop=True)
    b = b.sort_values(cols).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)


def test_spilled_dictionary_ships_the_same_candidates(spark, fixture_dir, tmp_path):
    """The spill file carries the whole dictionary: a FileBackedAliasIndex
    yields the same per-key candidates, and so the same candidate table, as
    the broadcast index. Its directory is named by all four columns, so
    changing one prior spills to a new directory instead of reusing a stale
    one."""
    from pyspark.sql import functions as F

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
        candidate_table,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        FileBackedAliasIndex,
        broadcast_alias_keys,
    )

    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    bc = broadcast_alias_keys(spark, aliases)
    fb = broadcast_alias_keys(spark, aliases, max_broadcast_keys=3, spill_dir=str(tmp_path))
    assert isinstance(fb, FileBackedAliasIndex)

    def by_key(index):
        return {k: sorted(v) for k, v in index.value.candidates_by_key().items()}

    assert by_key(fb) == by_key(bc)
    surfaces = aliases.select("alias_key", F.col("alias").alias("surface"))

    def cands(index):
        return sorted(map(tuple, candidate_table(surfaces, aliases, alias_index=index).collect()))

    assert cands(fb) == cands(bc)

    first = aliases.orderBy("alias_key", "cui", "alias").first()
    changed = aliases.withColumn("prior", F.when(
        (F.col("alias_key") == first["alias_key"]) & (F.col("cui") == first["cui"])
        & (F.col("alias") == first["alias"]), F.col("prior") + 0.01,
    ).otherwise(F.col("prior")))
    fb2 = broadcast_alias_keys(spark, changed, max_broadcast_keys=3, spill_dir=str(tmp_path))
    assert fb2.path != fb.path
    assert fb2.digest != fb.digest
    assert broadcast_alias_keys(
        spark, aliases, max_broadcast_keys=3, spill_dir=str(tmp_path)).path == fb.path


def test_values_df_matches_createdataframe(spark):
    """values_df (LocalRelation literal) must be a drop-in for
    createDataFrame on the same DDL schema: identical schema and rows,
    including quote, backslash and ${...} escaping, None, bool, and float
    round-trip bits — plus the property the swap exists for: a
    LocalRelation plan whose collect runs zero Spark jobs."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import values_df

    rows = [
        ("o'brien", 1, 0.1, True, None),
        ("plain", -2, 2.5e-17, False, 9),
        (None, 0, float(2**53 - 1), None, None),
    ]
    # strings Spark SQL would otherwise unescape, substitute or fail to parse
    probes = [
        "back\\slash", "tab\\tx", "dollar ${x}", "end\\", "q\\'x", "''", "$",
        "\\u0041", "real\ttab\nnewline", "-- not a comment /* */ ;", "café ✓",
    ]
    rows += [(t, i, 0.5, None, None) for i, t in enumerate(probes, start=10)]
    schema = "name string, n int, x double, flag boolean, extra bigint"
    a = values_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    # same names and types; nullability may be TIGHTER (VALUES infers
    # non-nullable for columns with no NULL literal — strictly more info)
    assert [(f.name, f.dataType) for f in a.schema] == [
        (f.name, f.dataType) for f in b.schema
    ]
    key = lambda t: tuple(map(repr, t))  # noqa: E731 — None-safe sort
    assert sorted(map(tuple, a.collect()), key=key) == sorted(
        map(tuple, b.collect()), key=key
    )
    opt = a._jdf.queryExecution().optimizedPlan()
    assert opt.getClass().getSimpleName() == "LocalRelation"


def test_broadcast_alias_keys_local_fast_path(spark):
    """A LocalRelation dictionary is collected driver-side: zero Spark jobs
    run during broadcast_alias_keys, and the index matches the job-based
    path built from the same rows via an RDD-backed createDataFrame."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        broadcast_alias_keys,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import (
        synth_aliases,
    )

    aliases = synth_aliases(spark)
    tracker_before = spark._jsc.sc().dagScheduler().nextJobId()
    bc = broadcast_alias_keys(spark, aliases)
    tracker_after = spark._jsc.sc().dagScheduler().nextJobId()
    assert tracker_after == tracker_before, "fast path must launch no Spark job"

    rdd_backed = spark.createDataFrame(
        [tuple(r) for r in aliases.collect()], aliases.schema
    )
    bc2 = broadcast_alias_keys(spark, rdd_backed)
    assert bc.value.singles == bc2.value.singles
    assert bc.value.multi_first == bc2.value.multi_first
