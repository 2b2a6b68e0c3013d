"""Stage [1] — turn assembly under a stable per-conversation ordering.

Contract (BASELINE.json): per-turn text equality under stable
(conv_id, turn_idx) ordering. Ordering inside a turn-key collision is pinned to
(ts, role, text, tool) — never partition order — so duplicate (conv_id,
turn_idx) rows (late re-sends, at-least-once ingest) dedup deterministically
first-wins, exactly like the oracle's stable sort + drop_duplicates.

Reference analogs: empty-text drop = empty-abstract filter
(rag2-retriever/empty_abstract_filter.py:94-101); first-seen dedup = the
seen-set dedup (similarity_pruning/context_pruning.py:78-85).

Scale notes: the single window shuffle partitions by conv_id — the same
partitioning every downstream per-turn stage reuses (no further shuffle until
canonicalization). Conversation-length skew is bounded: the window only ranks
within (conv_id, turn_idx) groups, which are tiny regardless of conversation
length, and AQE splits skewed shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

TURN_ORDER = ["ts", "role", "text", "tool"]


def assemble_turns(transcripts: DataFrame, assume_clustered: bool = False) -> DataFrame:
    """Dedup duplicate (conv_id, turn_idx) first-wins under the stable order,
    drop empty/whitespace-only texts, and keep the contract columns.

    The input is hash-repartitioned by conv_id into `defaultParallelism`
    partitions BEFORE the window. HashPartitioning(conv_id) satisfies the
    window's ClusteredDistribution (conv_id, turn_idx), so this is the plan's
    ONLY data-sized shuffle — and it pins the parallelism of every downstream
    Arrow/pandas stage. Without it, AQE coalesces small-byte text partitions
    to a handful of tasks and the Python extraction stages lose their
    row-based parallelism (text bytes are small; Python CPU per row is the
    actual cost).

    `assume_clustered=True` skips the repartition for inputs already bucketed
    by conv_id (sources.io.write_bucketed) — the whole stage then runs with
    zero exchanges; the window still satisfies its distribution.
    """
    df = transcripts
    if not assume_clustered:
        df = df.repartition(transcripts.sparkSession.sparkContext.defaultParallelism, "conv_id")
    # one SQL-string window expression instead of a Window-spec object tree:
    # parses JVM-side in a single round trip (r6 plan-construction diet);
    # ASC NULLS LAST matches the previous asc_nulls_last() exactly
    order_sql = ", ".join(f"{c} ASC NULLS LAST" for c in TURN_ORDER)
    return (
        df.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY conv_id, turn_idx "
            f"ORDER BY {order_sql}) AS _rn",
        )
        .filter("_rn = 1")
        .drop("_rn")
        .filter("trim(coalesce(text, '')) != ''")
    )
