"""Stage [6] — salted, skew-aware canonicalization into CUI nodes.

North-rule requirement: hot-entity skew handled explicitly. A handful of
aliases appear in >30% of turns (fixtures plant this; at 10^12 turns a hot CUI
would receive billions of rows). A naive groupBy("cui") sends every mention of
a hot CUI to one reducer. We do the classic two-phase salted aggregate
(SURVEY.md §4 item 1):

  phase 1: groupBy(cui, salt)  with salt = pmod(xxhash64(occurrence key), S)
           -> partial collect_set(surface) + count       (S-way fan-out)
  phase 2: groupBy(cui) over the <= S partials per cui   (tiny)

collect_set is safe to salt because surface vocabulary per CUI is small and
set-union is associative/commutative; counts sum. The reference's analog of
this whole stage is the pmid-keyed dict collapse (empty_abstract_filter.py:199-215).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.config import CANON_SALT_BUCKETS


def canonicalize_nodes(resolved_mentions: DataFrame, salt_buckets: int = CANON_SALT_BUCKETS) -> DataFrame:
    """kg_nodes(cui, surfaces sorted array, mention_count) via salted 2-phase agg."""
    salted = resolved_mentions.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64("conv_id", "turn_idx", "sent_idx", "mention_idx"),
            F.lit(salt_buckets),
        ),
    )
    partial = salted.groupBy("cui", "_salt").agg(
        F.collect_set("surface").alias("_surfaces"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    return (
        partial.groupBy("cui")
        .agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_surfaces")))).alias("surfaces"),
            F.sum("_cnt").alias("mention_count"),
        )
    )


def canonicalize_node_stats(resolution: DataFrame) -> DataFrame:
    """kg_nodes from linked VOCABULARY rows (cui, surface, n_mentions): one
    row per accepted (alias_key, surface) link — build_kg passes one per
    task that saw the pair, with that task's partial count. Value-identical
    to `canonicalize_nodes` over row-level resolved mentions (counts sum;
    surface sets union), but it groups vocabulary-sized rows: no salting, no
    join. This is the path build_kg, and so every run mode, uses;
    `canonicalize_nodes` remains the row-level operator that tools and tests
    call."""
    return resolution.groupBy("cui").agg(
        F.expr("array_sort(collect_set(surface)) AS surfaces"),
        F.expr("sum(n_mentions) AS mention_count"),
    )


def aggregate_edges(resolved_triples: DataFrame, exact_distinct: bool = True) -> DataFrame:
    """kg_edge_stats(subj_cui, pred, obj_cui, n_evidence, avg_confidence,
    n_convs) — the deduplicated graph view over evidence-level edges.
    groupBy keys are (cui, pred, cui): hot pairs exist, but the payload is
    counters only (map-side partial agg absorbs the skew).

    n_convs is an exact distinct by default so the table is oracle-checkable;
    pass exact_distinct=False for the HLL sketch when a hot edge's distinct
    conversation set itself is too large to shuffle (the 10^12-turn setting)."""
    n_convs_sql = (
        "count(DISTINCT conv_id)" if exact_distinct
        else "approx_count_distinct(conv_id)"
    )
    return resolved_triples.groupBy("subj_cui", "pred", "obj_cui").agg(
        F.expr("count(1) AS n_evidence"),
        F.expr("round(avg(confidence), 6) AS avg_confidence"),
        F.expr(f"{n_convs_sql} AS n_convs"),
    )
