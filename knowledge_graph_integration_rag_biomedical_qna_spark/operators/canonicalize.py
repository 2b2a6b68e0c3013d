"""Stage [6] — canonicalization into CUI nodes and edge statistics.

Hot-entity skew is handled upstream of the group: a handful of aliases appear
in >30% of turns (fixtures plant this; at 10^12 turns a hot CUI would receive
billions of rows), but the extraction pass emits one linked VOCABULARY row
per (alias_key, surface) pair per task, with that task's partial count. So
kg_nodes groups at most (vocabulary x tasks) rows by cui, map-side combined,
and a hot CUI costs one row per task, not one per mention. kg_edge_stats
likewise groups the linked triple rows by edge in one exchange. The
reference's analog of this stage is the pmid-keyed dict collapse
(empty_abstract_filter.py:199-215).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonicalize_node_stats(resolution: DataFrame) -> DataFrame:
    """kg_nodes from linked VOCABULARY rows (cui, surface, n_mentions): one
    row per accepted (alias_key, surface) link — build_kg passes one per
    task that saw the pair, with that task's partial count. Counts sum and
    surface sets union, so it equals a group of the row-level linked
    mentions, but it groups vocabulary-sized rows: no salting, no join.
    build_kg, and so every run mode, builds kg_nodes with it."""
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
