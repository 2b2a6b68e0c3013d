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


def _edge_stats(edges: DataFrame, n_convs_sql: str) -> DataFrame:
    """kg_edge_stats' one definition; callers differ only in how n_convs is
    counted."""
    return edges.groupBy("subj_cui", "pred", "obj_cui").agg(
        F.expr("count(1) AS n_evidence"),
        F.expr("round(avg(confidence), 6) AS avg_confidence"),
        F.expr(f"{n_convs_sql} AS n_convs"),
    )


def aggregate_edges(resolved_triples: DataFrame) -> DataFrame:
    """kg_edge_stats(subj_cui, pred, obj_cui, n_evidence, avg_confidence,
    n_convs) over edges with no `conv_first` flags, n_convs an exact
    `count(DISTINCT conv_id)` (a second exchange keyed by (edge, conv_id)):
    the specification that aggregate_flagged_edges, which build_kg and the
    checkpointed finalize write, is tested against."""
    return _edge_stats(resolved_triples, "count(DISTINCT conv_id)")


def aggregate_flagged_edges(linked_triples: DataFrame) -> DataFrame:
    """kg_edge_stats over the extraction pass's linked triple rows, which
    carry `conv_first` (extract_collapsed_df): n_convs is
    `count_if(conv_first)`, equal to aggregate_edges' exact distinct, in one
    exchange of at most (edge groups x tasks) partial rows."""
    return _edge_stats(linked_triples, "count_if(conv_first)")
