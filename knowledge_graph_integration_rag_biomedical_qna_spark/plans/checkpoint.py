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
  (the Iceberg analog is a snapshot commit per group): 5 Spark jobs a group;
- the marker is the group's run record (`run()` returns them): per bucket
  `turns_in` (input rows, before stage [1]'s dedup and empty-text drop),
  `raw_triples` and `edges`, counted by Observations riding the kg_edges
  write (null where AQE pruned one), plus `wall_sec` and `committed_at`;
- resume = skip buckets whose markers exist (LEFT ANTI semantics, P8/U3);
  each marker records the bucket count, and a resume or finalize under
  another count raises (its bucket ids name other conversations); each
  marker also records the dictionary's digest, and a resume with another
  dictionary, or a finalize over markers that disagree, raises (the
  dictionary decides every link, so mixing two would mix links silently);
- `finalize()` reads the markers once and builds every table from them:
  kg_nodes merges the marked groups' node partials (linking is a pure
  per-(alias_key, surface) function, so the merge equals the batch
  kg_nodes), kg_edge_stats aggregates the marked buckets' edges (exact
  n_convs), and `lineage` holds one record row per marked bucket.

Failure model: a crash mid-group leaves no marker; rerun reprocesses exactly
those buckets (writes replace the bucket partition — idempotent). finalize
reads only what the markers name, so a crashed group reaches no finalized
table, resumed or not; until a resume, kg_edges still holds its buckets.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..core.config import CHECKPOINT_BUCKETS
from ..operators.canonicalize import aggregate_edges
from ..operators.dedup import _obs_ready
from .pipeline import EDGE_RULE, broadcast_alias_keys, build_kg, kg_edges_of

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
# per-bucket counts of a group's run record, in lineage column order
_COUNTS = ("turns_in", "raw_triples", "edges")
_LINEAGE_SCHEMA = ("bucket int, turns_in bigint, raw_triples bigint, edges bigint, "
                   "wall_sec double, committed_at timestamp, commit_group string")


def bucket_of(col: str = "conv_id", buckets: int = CHECKPOINT_BUCKETS):
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def _group_key(bucket_group) -> str:
    return f"{min(bucket_group)}-{max(bucket_group)}"


def _marker_path(out_dir: str, bucket_group: tuple[int, ...]) -> str:
    return os.path.join(out_dir, "_done", f"group-{_group_key(bucket_group)}.json")


def _done_markers(out_dir: str, n_buckets: int, dict_digest: str | None = None) -> list[dict]:
    """Every committed group's done marker (its run record), in file order.
    Bucket ids only mean something under the bucket count that wrote them,
    so a marker from another count (or one that predates the field) raises
    instead of skipping the wrong conversations. Likewise a marker written
    with another dictionary than `dict_digest` raises; with no digest given
    (finalize) the markers must agree with each other."""
    d = os.path.join(out_dir, "_done")
    if not os.path.isdir(d):
        return []
    markers = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                marker = json.load(fh)
            if marker.get("n_buckets") != n_buckets:
                raise ValueError(
                    f"{out_dir}: done marker {f} was written with "
                    f"n_buckets={marker.get('n_buckets')}, this run uses "
                    f"n_buckets={n_buckets}; resume with the original bucket "
                    "count or start a new output dir"
                )
            if dict_digest is not None and marker.get("dict_digest") != dict_digest:
                raise ValueError(
                    f"{out_dir}: done marker {f} was written with dictionary "
                    f"{marker.get('dict_digest')}, this run uses {dict_digest}; "
                    "resume with the original dictionary or start a new output dir"
                )
            markers.append(marker)
    digests = {m.get("dict_digest") for m in markers}
    if len(digests) > 1:
        raise ValueError(
            f"{out_dir}: done markers were written with different dictionaries "
            f"{sorted(map(str, digests))}; rebuild into a new output dir"
        )
    return markers


def _done_buckets(out_dir: str, n_buckets: int, dict_digest: str) -> set[int]:
    return {b for m in _done_markers(out_dir, n_buckets, dict_digest) for b in m["buckets"]}


def _per_bucket(bucket, grp, name: str, cond):
    """`count_if(bucket = b AND cond) AS <name>_<b>` for each bucket of `grp`."""
    return [F.count_if((bucket == b) & cond).alias(f"{name}_{b}") for b in grp]


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

    def _path(self, table: str) -> str:
        return os.path.join(self.out_dir, table)

    def _commit_group(self, grp: tuple[int, ...], transcripts: DataFrame, aliases: DataFrame,
                      keys_bc) -> dict:
        """Build one group's KG, write its edges and node partial, then its
        done marker: the group's run record, returned. Its counts ride the
        first write (which also fills the cache) as Observations, no job."""
        t0 = time.time()
        bucket = bucket_of("conv_id", self.buckets)
        seen, linked = Observation(), Observation()
        part = transcripts.filter(bucket.isin(list(grp))).observe(
            seen, *_per_bucket(bucket, grp, "turns_in", F.lit(True))
        )
        kg = build_kg(self.spark, part, aliases, alias_index=keys_bc)
        try:
            unified = kg.unified.observe(
                linked,
                *_per_bucket(bucket, grp, "raw_triples", F.col("kind") == "t"),
                *_per_bucket(bucket, grp, "edges", F.expr(EDGE_RULE)),
            )
            _overwrite(kg_edges_of(unified).withColumn(_BUCKET, bucket), _BUCKET,
                       self._path("kg_edges"))
            _overwrite(kg.kg_nodes.withColumn(_GROUP, F.lit(_group_key(grp))), _GROUP,
                       self._path("node_partials"))
        finally:
            kg.unpersist()
        # the listener bus completes the Observations just after the write;
        # one whose node AQE pruned holds an empty row: its counts stay null
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        counts = {k: v for o in (seen, linked) if _obs_ready(o) and o._jo.getRow().length()
                  for k, v in o.get.items()}
        record = {
            "buckets": list(grp), "n_buckets": self.buckets, "dict_digest": keys_bc.digest,
            **{c: [counts.get(f"{c}_{b}") for b in grp] for c in _COUNTS},
            "wall_sec": round(time.time() - t0, 3),
            "committed_at": datetime.now(timezone.utc).isoformat(),
        }
        # atomic done marker AFTER the data is on disk
        marker = _marker_path(self.out_dir, grp)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, marker)
        return record

    def run(
        self,
        transcripts: DataFrame,
        aliases: DataFrame,
        max_groups: int | None = None,
    ) -> dict:
        """Process all not-yet-done bucket groups; `max_groups` simulates a
        crash after N group commits (used by the kill-and-resume test).
        Returns summary metrics, with the run record of every group this
        call committed. Call `finalize()` after all groups are done.
        """
        os.makedirs(os.path.join(self.out_dir, "_done"), exist_ok=True)
        keys_bc = broadcast_alias_keys(self.spark, aliases)
        done = _done_buckets(self.out_dir, self.buckets, keys_bc.digest)

        all_buckets = [b for b in range(self.buckets) if b not in done]
        groups = [
            tuple(all_buckets[i : i + self.group_size])
            for i in range(0, len(all_buckets), self.group_size)
        ]
        if max_groups is not None:
            groups = groups[:max_groups]

        records = [self._commit_group(grp, transcripts, aliases, keys_bc) for grp in groups]
        done = _done_buckets(self.out_dir, self.buckets, keys_bc.digest)
        return {
            "groups_processed": len(groups),
            "buckets_done": sorted(done),
            "complete": len(done) == self.buckets,
            "records": records,
        }

    def finalize(self) -> None:
        """From one read of the done markers: the marked groups' node
        partials -> kg_nodes, the marked buckets' edges -> kg_edge_stats
        (exact n_convs, as in build_kg), and their run records -> lineage,
        one row per bucket. A group without a marker (a crash) contributes
        nothing. Raises if the markers name different dictionaries."""
        markers = _done_markers(self.out_dir, self.buckets)
        partials = self.spark.read.parquet(self._path("node_partials")).filter(
            F.col(_GROUP).isin([_group_key(m["buckets"]) for m in markers])
        )
        nodes = partials.groupBy("cui").agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("surfaces")))).alias("surfaces"),
            F.sum("mention_count").alias("mention_count"),
        )
        nodes.write.mode("overwrite").parquet(self._path("kg_nodes"))
        edges = self.spark.read.parquet(self._path("kg_edges")).filter(
            F.col(_BUCKET).isin([b for m in markers for b in m["buckets"]])
        )
        aggregate_edges(edges).write.mode("overwrite").parquet(self._path("kg_edge_stats"))
        lineage = [
            (b, *(m[c][i] for c in _COUNTS), m["wall_sec"],
             datetime.fromisoformat(m["committed_at"]), _group_key(m["buckets"]))
            for m in markers for i, b in enumerate(m["buckets"])
        ]
        self.spark.createDataFrame(lineage, _LINEAGE_SCHEMA).write.mode("overwrite").partitionBy(
            _BUCKET
        ).parquet(self._path("lineage"))
