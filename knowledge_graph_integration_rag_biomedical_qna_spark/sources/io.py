"""Input readers and the bucketed-table writer.

`read_transcripts` / `read_aliases` / `read_edge_stats` take a parquet path
or a catalog table name. A path is anything with a `/` (so every URI:
`s3://...`, `file:///...`) or a `.parquet` suffix. Anything else is a table
name, read with `spark.read.table(name)`, which is how an Iceberg input table
comes in when the session has a catalog attached. The run modes write their
own outputs as parquet; `write_bucketed` lays out a conv_id-bucketed input
table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

ALIASES_SCHEMA = T.StructType(
    [
        T.StructField("alias_key", T.StringType(), False),
        T.StructField("alias", T.StringType(), False),
        T.StructField("cui", T.StringType(), False),
        T.StructField("prior", T.DoubleType(), False),
    ]
)

# What build_kg and ResumableKGRun.finalize() write as kg_edge_stats (a read
# makes every parquet column nullable): a reader that declares it starts no
# schema-inference job.
KG_EDGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("subj_cui", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj_cui", T.StringType()),
        T.StructField("n_evidence", T.LongType()),
        T.StructField("avg_confidence", T.DoubleType()),
        T.StructField("n_convs", T.LongType()),
    ]
)


def _read(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    if "/" in path or path.endswith(".parquet"):
        return spark.read.schema(schema).parquet(path)
    return spark.read.table(path)


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Read the transcripts input table with its contract schema
    (conv_id, turn_idx, role, text, tool, ts) — BASELINE.json input_hint."""
    return _read(spark, path, TRANSCRIPTS_SCHEMA)


def read_aliases(spark: SparkSession, path: str) -> DataFrame:
    return _read(spark, path, ALIASES_SCHEMA)


def read_edge_stats(spark: SparkSession, path: str) -> DataFrame:
    return _read(spark, path, KG_EDGE_STATS_SCHEMA)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 32,
    sort_col: str | None = "turn_idx",
) -> None:
    """Persist a table bucketed (and optionally sorted) by a join/window key.

    Repeat consumers that join or window on `bucket_col` then read it with
    `spark.table(...)` and Catalyst reuses the bucketing: NO exchange on that
    side of the join. This is the storage-layout answer to "the transcripts
    table is joined by conv_id by every downstream job" — at 100 TB, one
    bucketed write amortizes the shuffle across every job that follows.

    The writer REPARTITIONS by the bucket column first: without it, every
    writer task emits one file per bucket (tasks x buckets small files — the
    r3 bench's 1,024-file table), and each bucket's scan task then pays a
    serial many-tiny-file read that erased the zero-exchange win (measured
    54% slower than the shuffle-ful plan). `repartition(n, col)` uses the
    same murmur3 hash family as bucketBy, so each writer task holds exactly
    one bucket -> one well-sized file per bucket, and the one-time write cost
    is the same shuffle the un-bucketed plan pays EVERY run.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a crashed previous run can leave the managed location behind
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), table_name
    )
    if os.path.isdir(loc):
        shutil.rmtree(loc)
    df = df.repartition(n_buckets, bucket_col)
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)
