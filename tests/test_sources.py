"""Source tests: the input readers, dictionary shipping and driver-local
input tables."""

from __future__ import annotations

import os

import pytest

ALIASES_DDL = "alias_key string, alias string, cui string, prior double"


def _driver_held(spark, aliases):
    """The same rows as a LocalRelation, which the driver already holds."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import values_df

    return values_df(spark, [tuple(r) for r in aliases.collect()], ALIASES_DDL)


def test_a_dictionary_ships_the_same_from_a_file_or_the_driver(spark, fixture_dir):
    """A parquet dictionary (collected by a Spark job) and the same rows
    held by the driver (collected with none) ship under one digest, and the
    extraction output over the two handles is IDENTICAL."""
    import pandas as pd

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.extraction import (
        extract_all_df,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        broadcast_alias_keys,
    )

    transcripts = spark.read.parquet(f"{fixture_dir}/transcripts.parquet").limit(200)
    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")

    by_file = broadcast_alias_keys(spark, aliases)
    by_driver = broadcast_alias_keys(spark, _driver_held(spark, aliases))
    assert by_driver is not by_file and by_driver.digest == by_file.digest

    cols = ["conv_id", "turn_idx", "sent_idx", "kind", "mention_idx",
            "surface", "alias_key", "subj_key", "pred", "obj_key"]
    a = extract_all_df(transcripts, by_file).select(cols).toPandas()
    b = extract_all_df(transcripts, by_driver).select(cols).toPandas()
    a = a.sort_values(cols).reset_index(drop=True)
    b = b.sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_fixture_dictionary_digest_is_unchanged(spark, fixture_dir):
    """The fixture dictionary's digest is the one the broadcast shipping
    computed, so done markers written before the Arrow-file shipping still
    name this dictionary and their output directories still resume."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        broadcast_alias_keys,
    )

    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    assert broadcast_alias_keys(spark, aliases).digest == (
        "sha256-bafd721d40f9320489ccdb1bddfc595805aaf4cb4de4448d4517e39536c42c2f")


def test_shipped_dictionary_carries_every_candidate(spark, fixture_dir):
    """The shipped file carries the whole dictionary: its index yields every
    dictionary row as a candidate of its key, and so the same candidate
    table over two ships. The file is named by all four columns, so
    changing one prior ships a new digest in a new file instead of reusing
    a stale one, and the unchanged dictionary ships to its old file."""
    from pyspark.sql import functions as F

    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.linking import (
        candidate_table,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        _SHIP_DIR,
        broadcast_alias_keys,
    )

    aliases = spark.read.parquet(f"{fixture_dir}/concept_aliases.parquet")
    bc = broadcast_alias_keys(spark, aliases)
    by_driver = broadcast_alias_keys(spark, _driver_held(spark, aliases))

    want: dict = {}
    for k, a, c, p in aliases.collect():
        want.setdefault(k, []).append((c, a, p))
    assert set(bc.value.keys.to_pylist()) == set(want)
    assert {k: sorted(bc.value.candidates_of(k)) for k in want} == {
        k: sorted(v) for k, v in want.items()}
    surfaces = aliases.select("alias_key", F.col("alias").alias("surface"))

    def cands(index):
        return sorted(map(tuple, candidate_table(surfaces, aliases, alias_index=index).collect()))

    assert cands(by_driver) == cands(bc)

    first = aliases.orderBy("alias_key", "cui", "alias").first()
    changed = aliases.withColumn("prior", F.when(
        (F.col("alias_key") == first["alias_key"]) & (F.col("cui") == first["cui"])
        & (F.col("alias") == first["alias"]), F.col("prior") + 0.01,
    ).otherwise(F.col("prior")))
    bc2 = broadcast_alias_keys(spark, changed)
    assert bc2.digest != bc.digest and bc2.file_name != bc.file_name
    assert os.path.exists(os.path.join(_SHIP_DIR, bc2.file_name))
    assert broadcast_alias_keys(spark, aliases).file_name == bc.file_name


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
    assert bc.value.candidates.equals(bc2.value.candidates)


def test_same_content_ships_one_file_added_once(spark, monkeypatch):
    """Ships of one dictionary's rows, held by the driver or repartitioned
    (collected by a job), share one digest and one file under the ship
    directory, which is added to the SparkContext once, and their indexes
    hold the same keys and candidates."""
    import uuid

    from pyspark import SparkContext

    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        _SHIP_DIR,
        broadcast_alias_keys,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import values_df

    added = []
    add = SparkContext.addFile
    monkeypatch.setattr(SparkContext, "addFile",
                        lambda sc, path, *a: added.append(path) or add(sc, path, *a))
    cui = f"C-{uuid.uuid4().hex}"  # content no earlier ship added
    rows = [("aspirin", "Aspirin", cui, 0.9), ("heart attack", "heart attack", cui, 0.4)]
    handles = [broadcast_alias_keys(spark, values_df(spark, rows, ALIASES_DDL)),
               broadcast_alias_keys(spark, values_df(spark, rows, ALIASES_DDL)),
               broadcast_alias_keys(spark, values_df(spark, rows, ALIASES_DDL).repartition(2))]
    assert len({h.digest for h in handles}) == 1
    name = handles[0].file_name
    assert [n for n in os.listdir(_SHIP_DIR) if handles[0].digest in n] == [name]
    assert [os.path.basename(p) for p in added] == [name]
    assert len([f for f in spark.sparkContext.listFiles if f.endswith("/" + name)]) == 1
    a, b = handles[0].value, handles[2].value
    assert a.keys.equals(b.keys)
    assert a.candidates.equals(b.candidates)


def test_the_exit_hook_removes_every_shipped_file(spark):
    """The ship directory belongs to this process: the hook registered for
    interpreter exit leaves no shipped file, and a later ship writes its
    file again. A child interpreter that makes the directory leaves none
    behind when it exits."""
    import glob
    import subprocess
    import sys
    import uuid

    from knowledge_graph_integration_rag_biomedical_qna_spark.plans import pipeline
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import values_df

    rows = [("aspirin", "Aspirin", f"C-{uuid.uuid4().hex}", 0.9)]
    bc = pipeline.broadcast_alias_keys(spark, values_df(spark, rows, ALIASES_DDL))
    assert glob.glob(os.path.join(pipeline._SHIP_DIR, "aliases-*.arrow"))
    pipeline._remove_ship_dir()
    assert not glob.glob(os.path.join(pipeline._SHIP_DIR, "aliases-*.arrow"))
    again = pipeline.broadcast_alias_keys(spark, values_df(spark, rows, ALIASES_DDL))
    assert again.digest == bc.digest
    assert os.path.exists(os.path.join(pipeline._SHIP_DIR, bc.file_name))

    child = subprocess.run(
        [sys.executable, "-c",
         "import os\n"
         "from knowledge_graph_integration_rag_biomedical_qna_spark.plans import pipeline as p\n"
         "os.makedirs(p._SHIP_DIR)\n"
         "open(os.path.join(p._SHIP_DIR, 'aliases-x.arrow'), 'w').close()\n"
         "print(p._SHIP_DIR)"],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    ship_dir = child.stdout.strip()
    assert ship_dir != pipeline._SHIP_DIR and not os.path.exists(ship_dir)


def test_a_key_longer_than_the_matcher_reaches_warns_on_ship(spark):
    """A key of more than MAX_MENTION_TOKENS tokens can never match. The
    ship warns on the driver, where the user sees it, and the index leaves
    the key out."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        broadcast_alias_keys,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import values_df

    long_key = "one two three four five six seven eight nine"
    rows = [("aspirin", "Aspirin", "C1", 0.9), (long_key, long_key.title(), "C2", 0.5)]
    with pytest.warns(UserWarning, match="1 alias key.* longer than MAX_MENTION_TOKENS"):
        index = broadcast_alias_keys(spark, values_df(spark, rows, ALIASES_DDL)).value
    assert index.first_index() == (frozenset({"aspirin"}), {})
    assert [(k, v[0].to_pylist()) for k, v in index.vocab.items() if k != "_union"] == [
        (1, ["aspirin"])]


def test_readers_take_a_path_or_a_table_name(spark, fixture_dir, tmp_path):
    """read_transcripts / read_aliases read a parquet path with the contract
    schema, a directory given as a `file://` URI too, and anything else as a
    catalog table name (how an Iceberg input table comes in); all give the
    same rows. A missing directory is a path that is not found, not a table
    name."""
    from pyspark.errors import AnalysisException

    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import (
        ALIASES_SCHEMA,
        TRANSCRIPTS_SCHEMA,
        read_aliases,
        read_transcripts,
    )

    def same(a, b):
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    for read, name, schema in ((read_transcripts, "transcripts", TRANSCRIPTS_SCHEMA),
                               (read_aliases, "concept_aliases", ALIASES_SCHEMA)):
        by_path = read(spark, f"{fixture_dir}/{name}.parquet")
        assert by_path.schema.fieldNames() == schema.fieldNames()
        by_path.write.parquet(str(tmp_path / name))
        assert same(read(spark, (tmp_path / name).as_uri()), by_path)
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            read(spark, str(tmp_path / "missing" / name))
        by_path.createOrReplaceTempView(f"readers_{name}")
        try:
            assert same(read(spark, f"readers_{name}"), by_path)
        finally:
            spark.catalog.dropTempView(f"readers_{name}")
