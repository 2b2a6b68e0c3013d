"""Streaming transcript ingest -> incremental KG construction.

The batch job is the contract (SURVEY.md §7.6); this module runs the same
composition under Structured Streaming for continuous ingest:

- `readStream` over the transcripts source (file source here; Kafka in prod —
  swap the format, the plan is identical),
- `withWatermark("ts", ...)` + keyed dedup on (conv_id, turn_idx) for
  late/duplicate turns ACROSS micro-batches (the streaming analog of stage
  [1]'s first-wins dedup),
- each micro-batch runs `plans.pipeline.build_kg` inside `foreachBatch` and
  appends its evidence-level kg_edges: stages [1]-[5] are per-turn stateless
  and linking is a pure per-(alias_key, surface) function, so the appended
  edges equal the batch job's. The canonicalization groupBy stays a periodic
  batch compaction over the appended edges (the checkpointed finalize).

Exactly-once: foreachBatch + idempotent per-epoch parquet dirs, plus the
streaming checkpointLocation for source offsets.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import build_kg
from ..sources.io import TRANSCRIPTS_SCHEMA


def stream_transcripts(spark: SparkSession, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def deduped_turns_stream(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Late/duplicate handling: watermark on ts + keyed dedup WITH state
    eviction. Plain dropDuplicates only purges state when the event-time
    column is part of the key subset — with keys (conv_id, turn_idx) its
    state store grows forever on a continuous stream (r4 review finding);
    dropDuplicatesWithinWatermark is the API built for exactly this: dedup
    on the keys, evict each key's state once the watermark passes its first
    sighting. A duplicate arriving later than the watermark delay after the
    original is no longer deduplicated — that is the same contract as the
    late-row bound the watermark already imposes. Empty turns pass through:
    stage [1] inside build_kg drops them."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def start_kg_stream(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    aliases: DataFrame,
    keys_bc,
    trigger_available_now: bool = True,
    watermark: str = "10 minutes",
):
    """Start the streaming job: micro-batches of turns -> kg_edges appends.

    `watermark` bounds how late a (conv_id, turn_idx) re-send may arrive and
    still dedup; rows older than the watermark MAY be dropped by the engine.
    Batch-equivalence consumers (the driver-gated kg_streaming_ingest query)
    pass a delay wider than the input's event-time span so nothing can be
    late; production tunes it to the real ingest lag."""
    turns = deduped_turns_stream(stream_transcripts(spark, in_path), watermark=watermark)
    os.makedirs(out_dir, exist_ok=True)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # the epoch's one write reads the pass once: nothing to cache
        kg = build_kg(batch_df.sparkSession, batch_df, aliases, persist=False,
                      alias_index=keys_bc)
        edges = kg.kg_edges.withColumn("epoch", F.lit(epoch_id))
        # foreachBatch is AT-LEAST-ONCE: an epoch replayed after a crash
        # between the sink write and the offset commit must land in the
        # SAME place, not append a second copy. Dynamic partition
        # overwrite keyed on epoch makes the replay a no-op.
        edges.write.mode("overwrite").partitionBy("epoch").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(os.path.join(out_dir, "kg_edges_stream"))

    writer = (
        turns.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_chk"))
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
