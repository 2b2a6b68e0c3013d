"""Context-pruning operator over a generic (query_id, doc_id, score)
evidence frame.

| here | reference |
|---|---|
| threshold_sort_prune | Provence: keep score > th, sort desc (provence/provence.py:85-98) |

The reference's other three filters (helpfulness delta, per-query percentile
plus floor, per-query argmax) are registry queries over window plans
(`entry_queries.py`: p2_delta_threshold_filter, p4_percentile_filter,
a2_argmax_per_group). The expensive model scorers they consumed are
deterministic column scores here (featurize.py provides the vectorized
similarity scorer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def threshold_sort_prune(
    scored: DataFrame,
    threshold: float = 0.01,
    query_col: str = "query_id",
    score_col: str = "score",
    tiebreak_col: str = "doc_id",
) -> DataFrame:
    """Keep docs with score > threshold, ranked best-first within each query
    (rank column instead of a global sort — no full-order shuffle)."""
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(tiebreak_col).asc()
    )
    return (
        scored.filter(F.col(score_col) > threshold)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )
