"""Tests for the MERGE/upsert emulation operators."""

from __future__ import annotations

from knowledge_graph_integration_rag_biomedical_qna_spark.operators.upsert import (
    latest_per_key,
    merge_upsert,
)


def test_merge_upsert_semantics(spark):
    current = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 1), (2, "b3", 2), (4, "d", 1)], "k int, v string, ver int"
    )
    out = merge_upsert(current, updates.select("k", "v"), ["k"]).toPandas()
    got = dict(zip(out["k"], out["v"]))
    assert got[1] == "a" and got[3] == "c" and got[4] == "d"
    assert got[2] in ("b2", "b3")  # no version -> any update row survives dedup-free path
    # with version column: last writer wins deterministically
    out2 = merge_upsert(current, updates, ["k"], version_col="ver").toPandas()
    got2 = dict(zip(out2["k"], out2["v"]))
    assert got2[2] == "b3" and got2[4] == "d" and len(out2) == 4


def test_latest_per_key(spark):
    updates = spark.createDataFrame(
        [(1, "x", 5), (1, "y", 9), (2, "z", 1)], "k int, v string, ver int"
    )
    out = latest_per_key(updates, ["k"], "ver").toPandas().set_index("k")
    assert out.loc[1, "v"] == "y" and out.loc[2, "v"] == "z"
