"""Stage [7] — checkpointed, resumable materialization with lineage + metrics.

Reference analog: per-query checkpoint files + resume-by-skip
(provence/provence.py:113-167, rag2-retriever/cot_generation.py:32-78). In the
engine that becomes:

- the conversation space is hashed into CHECKPOINT_BUCKETS buckets
  (`pmod(xxhash64(conv_id), B)`) — the unit of commit and of resume;
- buckets are processed in groups; each group runs `plans.pipeline.build_kg`
  (the one composition of stages [1]-[6]) uncached and commits its linked
  pass in ONE write, its unit: `units/commit_group=<min>-<max>` (the
  kg_edges rows with their `conv_first` flags, and the linked mention-stats
  rows), then an atomic done marker (the Iceberg analog is a snapshot
  commit per group): 2 Spark jobs a group;
- the marker is the group's run record (`run()` returns them): per bucket
  `turns_in` (input rows, before stage [1]'s dedup and empty-text drop),
  `raw_triples` and `edges`, counted by Observations riding the unit write
  (null where AQE pruned one), plus `wall_sec`, `committed_at` and the
  `units` schema, which `finalize()` reads with (a write of no rows leaves
  no file to infer one from);
- resume = skip buckets whose markers exist (LEFT ANTI semantics, P8/U3);
  each marker records the bucket count, and a resume or finalize under
  another count raises (its bucket ids name other conversations); each
  marker also records the dictionary's digest, and a resume with another
  dictionary, or a finalize over markers that disagree, raises (the
  dictionary decides every link, so mixing two would mix links silently);
- `finalize()` writes kg_edges, kg_nodes and kg_edge_stats from the marked
  units with build_kg's own definitions (it rewrites the edges once), and
  `lineage`, one record row per marked bucket. They equal the batch tables:
  a conversation lives in one bucket, so in one task of one group's pass,
  and mention counts are per-task partials of a pure per-pair link.

Failure model: a crash mid-group leaves no marker; rerun reprocesses exactly
those buckets (the write replaces the group's unit — idempotent). finalize
reads only the units the markers name, so a crashed group reaches no table.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..core.config import CHECKPOINT_BUCKETS
from ..sources.synth import values_df
from .pipeline import EDGE_RULE, NODE_RULE, broadcast_alias_keys, build_kg
from .pipeline import kg_edge_stats_of, kg_edges_of, kg_nodes_of

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

# what the pipeline's kg_*_of definitions read of the pass's rows
_UNIT_COLUMNS = ("kind", "conv_id", "turn_idx", "subj_cui", "pred", "obj_cui", "subj_surface",
                 "obj_surface", "confidence", "conv_first", "cui", "surface", "mention_idx")
# per-bucket counts of a group's run record, in lineage column order
_COUNTS = ("turns_in", "raw_triples", "edges")
_LINEAGE_SCHEMA = ("bucket int, turns_in bigint, raw_triples bigint, edges bigint, "
                   "wall_sec double, committed_at timestamp, commit_group string")


def bucket_of(col: str = "conv_id", buckets: int = CHECKPOINT_BUCKETS):
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def _group_key(bucket_group) -> str:
    return f"{min(bucket_group)}-{max(bucket_group)}"


def _done_markers(out_dir: str, n_buckets: int, dict_digest: str | None = None) -> list[dict]:
    """Every committed group's done marker (its run record), in file order.
    Bucket ids only mean something under the bucket count that wrote them,
    so a marker from another count (or one that predates the field) raises
    instead of skipping the wrong conversations. Likewise a marker written
    with another dictionary than `dict_digest` raises; with no digest given
    (finalize) the markers must agree with each other. A marker with no
    `units` schema comes from the older per-table layout and raises."""
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
            if "units" not in marker.get("schemas", {}):
                raise ValueError(
                    f"{out_dir}: done marker {f} records no units table (an output "
                    "dir begun by the older per-table layout); start a new output dir"
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


def _obs_ready(obs) -> bool:
    """Non-blocking probe: has the observed DataFrame finished its first
    action? Asks the classic JVM handle whether its result future has
    completed; the public python `get` blocks until the action runs, and
    the JVM `getRowOrEmpty` waits up to 100 ms per call.
    tests/test_training_ops pins the handle on the installed Spark, so an
    upgrade that removes it fails loudly."""
    return obs._jo.future().isCompleted()


def _per_bucket(bucket, grp, name: str, cond):
    """`count_if(bucket = b AND cond) AS <name>_<b>` for each bucket of `grp`."""
    return [F.count_if((bucket == b) & cond).alias(f"{name}_{b}") for b in grp]


def _overwrite(df: DataFrame, path: str) -> None:
    """Overwrite the unit's own directory, NOT append: a crash between this
    write and the done marker leaves the group unmarked, and the rerun
    REPLACES its unit instead of double-counting it, even with no rows (a
    dynamic partition overwrite of no rows would keep the crashed rows)."""
    df.write.mode("overwrite").parquet(path)


class ResumableKGRun:
    """Checkpointed KG materialization over a transcripts table."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        buckets: int = CHECKPOINT_BUCKETS,
        group_size: int = 8,
    ):
        # 0 buckets would report complete with nothing committed; a group
        # size below 1 makes no groups, so no run ever completes
        if buckets < 1 or group_size < 1:
            raise ValueError(f"buckets={buckets} and group_size={group_size} must be >= 1")
        self.spark = spark
        self.out_dir = out_dir
        self.buckets = buckets
        self.group_size = group_size

    def _path(self, table: str) -> str:
        return os.path.join(self.out_dir, table)

    def _unit_path(self, grp) -> str:
        return os.path.join(self.out_dir, "units", f"commit_group={_group_key(grp)}")

    def _commit_group(self, grp: tuple[int, ...], transcripts: DataFrame, aliases: DataFrame,
                      keys_bc) -> dict:
        """Build one group's KG uncached, write its linked pass as the
        group's unit in one write, then its done marker: the group's run
        record, returned. Its counts ride that write as Observations."""
        t0 = time.time()
        bucket = bucket_of("conv_id", self.buckets)
        seen, linked = Observation(), Observation()
        part = transcripts.filter(bucket.isin(list(grp))).observe(
            seen, *_per_bucket(bucket, grp, "turns_in", F.lit(True))
        )
        kg = build_kg(self.spark, part, aliases, persist=False, alias_index=keys_bc)
        unit = (
            kg.unified.observe(
                linked,
                *_per_bucket(bucket, grp, "raw_triples", F.col("kind") == "t"),
                *_per_bucket(bucket, grp, "edges", F.expr(EDGE_RULE)),
            )
            .filter(f"({EDGE_RULE}) OR ({NODE_RULE})")
            .select(*_UNIT_COLUMNS)
        )
        _overwrite(unit, self._unit_path(grp))
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
            "schemas": {"units": unit.schema.toDDL()},
        }
        # atomic done marker AFTER the data is on disk
        marker = os.path.join(self.out_dir, "_done", f"group-{_group_key(grp)}.json")
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
        # a negative slice bound would silently drop the last groups
        if max_groups is not None and max_groups < 0:
            raise ValueError(f"max_groups={max_groups} must be >= 0")
        os.makedirs(os.path.join(self.out_dir, "_done"), exist_ok=True)
        keys_bc = broadcast_alias_keys(self.spark, aliases)
        markers = _done_markers(self.out_dir, self.buckets, keys_bc.digest)
        done = {b for m in markers for b in m["buckets"]}

        all_buckets = [b for b in range(self.buckets) if b not in done]
        groups = [
            tuple(all_buckets[i : i + self.group_size])
            for i in range(0, len(all_buckets), self.group_size)
        ][:max_groups]

        records = [self._commit_group(grp, transcripts, aliases, keys_bc) for grp in groups]
        done |= {b for grp in groups for b in grp}
        return {
            "groups_processed": len(groups),
            "buckets_done": sorted(done),
            "complete": len(done) == self.buckets,
            "records": records,
        }

    def finalize(self) -> None:
        """From one read of the done markers: the marked groups' units ->
        kg_edges, kg_nodes and kg_edge_stats, each with build_kg's
        definition, and their run records -> lineage, one row per bucket. A
        group without a marker (a crash) contributes nothing. Raises if the
        markers name different dictionaries."""
        markers = _done_markers(self.out_dir, self.buckets)
        if not markers:
            raise ValueError(f"{self.out_dir}: no committed group to finalize; run() first")
        units = self.spark.read.schema(markers[0]["schemas"]["units"]).parquet(
            *[self._unit_path(m["buckets"]) for m in markers]
        )
        for table, of in (("kg_edges", kg_edges_of), ("kg_nodes", kg_nodes_of),
                          ("kg_edge_stats", kg_edge_stats_of)):
            of(units).write.mode("overwrite").parquet(self._path(table))
        # a VALUES literal, not createDataFrame: no RDD scan, so no second
        # Python worker pool; the CAST parses committed_at's ISO string
        lineage = [
            (b, *(m[c][i] for c in _COUNTS), m["wall_sec"], m["committed_at"],
             _group_key(m["buckets"]))
            for m in markers for i, b in enumerate(m["buckets"])
        ]
        values_df(self.spark, lineage, _LINEAGE_SCHEMA).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(self._path("lineage"))
