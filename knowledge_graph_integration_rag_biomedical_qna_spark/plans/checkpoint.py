"""Stage [7] — checkpointed, resumable materialization with lineage + metrics.

Reference analog: per-query checkpoint files + resume-by-skip
(provence/provence.py:113-167, rag2-retriever/cot_generation.py:32-78). In the
engine that becomes:

- the conversation space is hashed into CHECKPOINT_BUCKETS buckets
  (`pmod(xxhash64(conv_id), B)`) — the unit of commit and of resume;
- buckets are processed in groups; each group runs `plans.pipeline.build_kg`
  (the one composition of stages [1]-[6]) over its conversations and commits
  its kg_edges under `bucket=N` partition dirs and its kg_nodes as a node
  partial under `commit_group=<min>-<max>`, followed by an atomic done marker
  (the Iceberg analog is a snapshot commit per group);
- resume = skip buckets whose markers exist (LEFT ANTI semantics, P8/U3);
- `finalize()` merges the node partials of marked groups (surface sets union,
  counts sum; linking is a pure per-(alias_key, surface) function, so the
  merge equals the batch kg_nodes) and builds kg_edge_stats from the
  committed edges with the batch aggregate (exact n_convs);
- a `lineage` table records (bucket, turns_in, raw_triples, edges, wall_sec,
  commit_group) per bucket — per-partition lineage + triple-count metrics.

Failure model: a crash mid-group leaves no marker; rerun reprocesses exactly
those buckets (writes replace the bucket partition — idempotent), and
finalize reads only the node partials of marked groups, so a crashed group's
partial is never counted, whatever group size the resume uses.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.config import CHECKPOINT_BUCKETS
from ..operators.canonicalize import aggregate_edges
from .pipeline import broadcast_alias_keys, build_kg

# Unused here since build_kg became the only composition. perfbench's traced
# checkpointed job patches these module attributes by name, so they stay
# importable from this module.
from ..operators.extraction import extract_all_df, mentions_view, triples_view  # noqa: F401
from ..operators.linking import (  # noqa: F401
    candidate_table,
    resolution_table,
    resolve_mentions,
    resolve_triples,
)
from ..operators.turn_assembly import assemble_turns  # noqa: F401

_BUCKET = "bucket"
_GROUP = "commit_group"


def bucket_of(col: str = "conv_id", buckets: int = CHECKPOINT_BUCKETS):
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def _group_key(bucket_group) -> str:
    return f"{min(bucket_group)}-{max(bucket_group)}"


def _marker_path(out_dir: str, bucket_group: tuple[int, ...]) -> str:
    return os.path.join(out_dir, "_done", f"group-{_group_key(bucket_group)}.json")


def _done_groups(out_dir: str) -> list[list[int]]:
    """The bucket list of every committed group (one per done marker)."""
    d = os.path.join(out_dir, "_done")
    if not os.path.isdir(d):
        return []
    groups = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                groups.append(json.load(fh)["buckets"])
    return groups


def _done_buckets(out_dir: str) -> set[int]:
    return {b for grp in _done_groups(out_dir) for b in grp}


def _overwrite(df: DataFrame, key: str, path: str) -> None:
    """Dynamic partition overwrite keyed on `key`, NOT append: a crash between
    this write and the done marker leaves the group unmarked, and the rerun
    REPLACES the partitions it rewrites instead of double-counting them."""
    df.write.mode("overwrite").partitionBy(key).option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)


class ResumableKGRun:
    """Checkpointed KG materialization over a transcripts table."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        buckets: int = CHECKPOINT_BUCKETS,
        group_size: int = 8,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.buckets = buckets
        self.group_size = group_size

    def _per_bucket(self, df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(bucket_of("conv_id", self.buckets).alias(_BUCKET)).agg(
            F.count(F.lit(1)).alias(name)
        )

    def _commit_group(self, grp: tuple[int, ...], kg, t0: float) -> None:
        """Write one group's edges, node partial and lineage, then its marker;
        `t0` is when the group started."""
        key = F.lit(_group_key(grp))
        _overwrite(
            kg.kg_edges.withColumn(_BUCKET, bucket_of("conv_id", self.buckets)),
            _BUCKET, os.path.join(self.out_dir, "kg_edges"),
        )
        _overwrite(
            kg.kg_nodes.withColumn(_GROUP, key),
            _GROUP, os.path.join(self.out_dir, "node_partials"),
        )
        # lineage metrics for this group, one row per bucket, counted from
        # the composition's own outputs; keyed by bucket, so a resume with
        # another group size replaces a crashed group's rows
        lineage = (
            self._per_bucket(kg.turns, "turns_in")
            .join(self._per_bucket(kg.raw_triples, "raw_triples"), _BUCKET, "left")
            .join(self._per_bucket(kg.kg_edges, "edges"), _BUCKET, "left")
            .na.fill(0, ["raw_triples", "edges"])
            .withColumn("wall_sec", F.lit(round(time.time() - t0, 3)))
            .withColumn("committed_at", F.current_timestamp())
            .withColumn(_GROUP, key)
        )
        _overwrite(lineage, _BUCKET, os.path.join(self.out_dir, "lineage"))

        # atomic done marker AFTER data + lineage are on disk
        marker = _marker_path(self.out_dir, grp)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"buckets": list(grp), "wall_sec": round(time.time() - t0, 3)}, fh)
        os.replace(tmp, marker)

    def run(
        self,
        transcripts: DataFrame,
        aliases: DataFrame,
        max_groups: int | None = None,
    ) -> dict:
        """Process all not-yet-done bucket groups; `max_groups` simulates a
        crash after N group commits (used by the kill-and-resume test).
        Returns summary metrics. Call `finalize()` after all groups are done.
        """
        os.makedirs(os.path.join(self.out_dir, "_done"), exist_ok=True)
        done = _done_buckets(self.out_dir)
        keys_bc = broadcast_alias_keys(self.spark, aliases)

        all_buckets = [b for b in range(self.buckets) if b not in done]
        groups = [
            tuple(all_buckets[i : i + self.group_size])
            for i in range(0, len(all_buckets), self.group_size)
        ]
        if max_groups is not None:
            groups = groups[:max_groups]

        aliases = aliases.cache()
        try:
            for grp in groups:
                t0 = time.time()
                part = transcripts.filter(bucket_of("conv_id", self.buckets).isin(list(grp)))
                kg = build_kg(self.spark, part, aliases, alias_index=keys_bc)
                try:
                    self._commit_group(grp, kg, t0)
                finally:
                    kg.unpersist()
        finally:
            aliases.unpersist()
        return {
            "groups_processed": len(groups),
            "buckets_done": sorted(_done_buckets(self.out_dir)),
            "complete": len(_done_buckets(self.out_dir)) == self.buckets,
        }

    def finalize(self) -> None:
        """Merge the node partials of the marked groups -> kg_nodes; the
        committed edges -> kg_edge_stats (exact n_convs, as in build_kg)."""
        committed = [_group_key(grp) for grp in _done_groups(self.out_dir)]
        partials = self.spark.read.parquet(
            os.path.join(self.out_dir, "node_partials")
        ).filter(F.col(_GROUP).isin(committed))
        nodes = partials.groupBy("cui").agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("surfaces")))).alias("surfaces"),
            F.sum("mention_count").alias("mention_count"),
        )
        nodes.write.mode("overwrite").parquet(os.path.join(self.out_dir, "kg_nodes"))
        edges = self.spark.read.parquet(os.path.join(self.out_dir, "kg_edges"))
        aggregate_edges(edges).write.mode("overwrite").parquet(
            os.path.join(self.out_dir, "kg_edge_stats")
        )
