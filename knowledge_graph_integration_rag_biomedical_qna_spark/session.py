"""SparkSession factory with scale-aware defaults.

Local-mode knobs mirror what a 1000-executor cluster deployment would set via
spark-submit: AQE on (runtime re-plan + skew-join splitting), shuffle
partitions sized to cores, Arrow enabled for every pandas-UDF boundary, UTC
session timezone (so DuckDB-oracle comparisons are stable).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

from .core.config import ARROW_BATCH


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of a block, restoring the prior
    value (or unsetting) on exit — the pin/restore choreography for e.g.
    scoping shuffle partitions to a streaming job's micro-batches."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def get_spark(
    app_name: str = "kg_construct",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH * 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Columnar-cache compression stays at the DEFAULT (on). r4 measured
        # both ways, interleaved: in a FRESH session the uncompressed cache
        # wins (-16% on the steady pipeline — compression CPU dominates a
        # short-lived stage-boundary cache), but in a long-lived session
        # already holding other state (the bench context, and any real
        # deployment) COMPRESSED wins every interleaved rep (+15-20%): the
        # doubled storage footprint turns into GC/eviction pressure.
        # Compressed is also the scale-correct choice — cache memory is the
        # scarce resource at 100 TB. Full numbers: BENCH/PERF_NOTES.md.
        #
        # Columnar-cache batch size 100k (default 10k): the steady pipeline's
        # dominant cost is building the unified-extraction cache (62% of
        # wall), and 10k-row batches pay 10x the per-batch setup +
        # compression-block overhead for slim extraction rows (~10 MB/batch
        # at 100k — well inside task memory). Interleaved A/B won or tied
        # every rep; best steady 2.74 -> 2.42 s at sf0.1 x20.
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "100000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
