"""Stages [2]+[3] — mention detection and SVO triple extraction.

Both run as one `mapInArrow` over the turn table: Arrow-batched, per-turn
stateless, NO shuffle (they inherit the conv_id partitioning from stage [1]).
The build's pass (`extract_collapsed_df`) also links each mention there
(stages [4]+[5], operators.linking.pair_linker).
The alias dictionary is shipped once per SparkContext as one Arrow file
(plans.pipeline.broadcast_alias_keys), which each Python worker reads once.
The reference held its article dictionaries in driver RAM
(rag2-filtering/filtering_module.py:44,62); here the dictionary passes
through the driver once, and the transcripts never visit it.

Reference analogs:
- sentence split: rag2-retriever/query_encode.py:10-48 (scispacy .sents)
- dictionary candidate generation: FAISS corpus lookup main.py:119-167
- SVO patterns: the engine-side substitute for generation-model extraction
  (SURVEY.md §2.8 M8): deterministic, shared with the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("mention_idx", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("alias_key", T.StringType(), False),
        T.StructField("tok_start", T.IntegerType(), False),
        T.StructField("tok_end", T.IntegerType(), False),
    ]
)

_MENTION_COLS = list(MENTIONS_SCHEMA.fieldNames())


def kernel_batches(batches, index):
    """The extraction kernel over (conv_id, turn_idx, text) RecordBatches:
    unified RecordBatches (UNIFIED_SCHEMA order) out."""
    from ..core.vectorized import extract_unified_batches

    for batch in batches:
        yield from extract_unified_batches(
            batch.column("conv_id"), batch.column("turn_idx"), batch.column("text"), index
        )


def _unified_batches_fn(alias_keys_bc, kind: str | None = None, cols: list | None = None):
    """mapInArrow body: RecordBatch in -> unified RecordBatches out, with an
    optional in-pass kind filter + column projection (Arrow kernels, no
    pandas)."""

    def fn(batches):
        import pyarrow.compute as pc

        for rb in kernel_batches(batches, alias_keys_bc.value):
            if kind is not None:
                rb = rb.filter(pc.equal(rb.column("kind"), kind))
            if cols is not None:
                rb = rb.select(cols)
            if len(rb):
                yield rb

    return fn


def detect_mentions_df(turns: DataFrame, alias_keys_bc) -> DataFrame:
    """mentions(conv_id, turn_idx, sent_idx, mention_idx, surface, alias_key,
    tok_start, tok_end) — one row per dictionary hit. Runs the vectorized
    kernel and projects the mention rows inside the same Arrow pass."""
    return turns.select("conv_id", "turn_idx", "text").mapInArrow(
        _unified_batches_fn(alias_keys_bc, kind="m", cols=_MENTION_COLS),
        MENTIONS_SCHEMA,
    )


# extract_collapsed_df appends five nullable columns to these: subj_cui,
# obj_cui and conv_first on 't' rows, cui and link_score on 's' rows.
# conv_first holds only on stage [1]'s output (each conversation's turns in
# one task, tasks sorted by conv_id), which the pass checks as it goes.
UNIFIED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        # 'm' mention | 't' triple | 's' collapsed per-task mention stats
        # ('s' rows exist only in extract_collapsed_df output: the partial
        # count rides in mention_idx; see mention_stats_view)
        T.StructField("kind", T.StringType(), False),
        T.StructField("mention_idx", T.IntegerType(), True),
        T.StructField("surface", T.StringType(), True),
        T.StructField("alias_key", T.StringType(), True),
        T.StructField("tok_start", T.IntegerType(), True),
        T.StructField("tok_end", T.IntegerType(), True),
        T.StructField("subj_surface", T.StringType(), True),
        T.StructField("subj_key", T.StringType(), True),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj_surface", T.StringType(), True),
        T.StructField("obj_key", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
    ]
)



def extract_all_df(turns: DataFrame, alias_keys_bc) -> DataFrame:
    """Stages [2]+[3] in ONE Arrow pass: each turn's text is sentence-split,
    tokenized, and dictionary-matched exactly once; mention rows (kind='m')
    and triple rows (kind='t') share the output. Downstream callers split
    with a filter — persist the result so both branches reuse the pass.

    The kernel is the VECTORIZED pyarrow/numpy path (core.vectorized):
    byte-LUT tokenization over byte-bounded Arrow slices + hash-join dictionary
    probes, with interpreted Python only on hit positions. Property-tested
    row-for-row equal to the per-row matcher (`core.vectorized._extract_slow`,
    which also takes the rare non-ASCII rows); it replaced that matcher after
    profiling showed the per-token Python loop at ~20k turns/s/core was the
    pipeline's 100x-scale bottleneck. The stage runs through mapInArrow — the
    kernel is Arrow-native in both directions, so no pandas conversion layer
    (Arrow -> per-row Python strings on input, object arrays -> Arrow on
    output) sits at the boundary; those layers were ~10x the kernel's own
    core-time at 32 workers."""
    return turns.select("conv_id", "turn_idx", "text").mapInArrow(
        _unified_batches_fn(alias_keys_bc), UNIFIED_SCHEMA
    )


def _collapsed_fn(alias_index, cui_type):
    """The extract_collapsed_df pass body over `alias_index` (an AliasIndex
    handle carrying link candidates); `cui_type` is the Arrow type of the
    CUI columns."""

    def collapsed(batches):
        """mapInArrow body: extraction, the per-task mention collapse and
        linking in one pass over the task's turn batches."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..core.vectorized import _unified_pa_schema
        from .linking import pair_linker

        link = pair_linker(alias_index)
        fields = [*_unified_pa_schema(), pa.field("subj_cui", cui_type),
                  pa.field("obj_cui", cui_type), pa.field("conv_first", pa.bool_()),
                  pa.field("cui", cui_type), pa.field("link_score", pa.float64())]

        def rows(n, **cols):
            """One output batch of n rows: `cols` by name, nulls elsewhere."""
            return pa.RecordBatch.from_arrays(
                [cols[f.name] if f.name in cols else pa.nulls(n, f.type) for f in fields],
                names=[f.name for f in fields],
            )

        def cuis(hits):
            return [h[0] if h else None for h in hits]

        def endpoint_cuis(rb, side):
            return cuis(map(link, rb.column(f"{side}_key").to_pylist(),
                            rb.column(f"{side}_surface").to_pylist()))

        # the current conversation's edge keys (stage [1] sorts nulls first)
        conv, seen = None, set()

        def conv_first(convs, subj, preds, obj):
            nonlocal conv, seen
            flags = []
            for key in zip(convs, subj, preds, obj):
                if key[0] != conv:
                    if key[0] is None or conv is not None and key[0] < conv:
                        raise ValueError(
                            f"extract_collapsed_df: conv_id {key[0]!r} after {conv!r} in "
                            "one task; the pass needs each task's turns sorted by "
                            "conv_id (stage [1], assemble_turns)")
                    conv, seen = key[0], set()
                flags.append(None if None in (key[0], key[1], key[3]) else key not in seen)
                seen.add(key)
            return pa.array(flags, pa.bool_())

        partials = []
        for rb in kernel_batches(batches, alias_index.value):
            is_t = pc.equal(rb.column("kind"), "t")
            m_tbl = pa.Table.from_batches([rb.filter(pc.invert(is_t))]).select(
                ["alias_key", "surface"]
            )
            if len(m_tbl):
                part = m_tbl.group_by(["alias_key", "surface"]).aggregate([([], "count_all")])
                partials.append(part)
                # score the batch's distinct pairs here, so the triple rows
                # below only look their endpoints up
                for pair in zip(part["alias_key"].to_pylist(), part["surface"].to_pylist()):
                    link(*pair)
            t_rb = rb.filter(is_t)
            if len(t_rb):
                subj, obj = endpoint_cuis(t_rb, "subj"), endpoint_cuis(t_rb, "obj")
                first = conv_first(t_rb.column("conv_id").to_pylist(), subj,
                                   t_rb.column("pred").to_pylist(), obj)
                yield rows(len(t_rb), **dict(zip(t_rb.schema.names, t_rb.columns)),
                           subj_cui=pa.array(subj, cui_type), obj_cui=pa.array(obj, cui_type),
                           conv_first=first)
        if partials:
            agg = (
                pa.concat_tables(partials)
                .group_by(["alias_key", "surface"])
                .aggregate([("count_all", "sum")])
            )
            n = len(agg)
            alias_key, surface = (agg.column(c).combine_chunks() for c in ("alias_key", "surface"))
            hits = list(map(link, alias_key.to_pylist(), surface.to_pylist()))
            zeros = pa.array([0] * n, pa.int32())
            yield rows(
                n, conv_id=pa.array([""] * n, pa.string()), turn_idx=zeros, sent_idx=zeros,
                kind=pa.array(["s"] * n, pa.string()),
                # the partial count rides in mention_idx (mention_stats_view)
                mention_idx=pc.cast(agg.column("count_all_sum").combine_chunks(), pa.int32()),
                surface=surface, alias_key=alias_key, cui=pa.array(cuis(hits), cui_type),
                link_score=pa.array([h[1] if h else None for h in hits], pa.float64()),
            )

    return collapsed


def extract_collapsed_df(
    turns: DataFrame, alias_keys_bc, cui_type: T.DataType = T.StringType()
) -> DataFrame:
    """Stages [2]-[5] in one Arrow pass: extraction, with mention rows
    COLLAPSED to per-task partial stats before they ever leave the Python
    worker, and every mention linked where it is found.

    Motivation (r5 steady-state profile): per-occurrence mention rows are
    ~92% of the unified output (1.97M of 2.13M rows at bench scale), but the
    nodes/edges product only ever re-reads them as the vocabulary-sized
    (alias_key, surface, n) aggregate — so caching them is pure dead weight:
    they dominate the Arrow->JVM transfer, the columnar cache build (the
    steady pipeline's single largest phase, ~60% of wall), and the
    mention-stats shuffle. Here each task group-bys its mention hits
    Arrow-side (vectorized hash agg, vocab-sized result) and emits them as
    kind='s' rows carrying the partial count in `mention_idx`; triple rows
    (kind='t') pass through untouched. `mention_stats_view` sums the
    partials — bit-identical counts to the full path (parity-tested in
    test_pipeline_parity), with the transcript-sized mention traffic gone.

    Linking rides the same pass: each task links its distinct
    (alias_key, surface) pairs — the pairs its 's' rows already carry — once,
    against the candidates `alias_keys_bc` ships
    (operators.linking.pair_linker), and the output gains nullable
    `subj_cui`, `obj_cui` on 't' rows and `cui`, `link_score` on 's' rows,
    the CUIs typed `cui_type` (pass the dictionary's cui type), null where the
    surface does not link. Scoring is proportional to the distinct pairs in
    each task, not to the global vocabulary: a pair seen by every task is
    scored once per task. Every worker builds the index's per-key
    candidates, so `alias_keys_bc` must carry them (broadcast_alias_keys does).

    Each 't' row also gets `conv_first`: true on the first row of its
    (conv_id, subj_cui, pred, obj_cui) in the task, false on later ones,
    null when conv_id or an endpoint is null, so `count_if(conv_first)` per
    edge is the exact `count(DISTINCT conv_id)`. Input contract: `turns` is
    stage [1]'s output (assemble_turns): each conversation in one task, each
    task sorted by conv_id, nulls first. The pass keeps only the current
    conversation's keys and raises if conv_id decreases inside a task
    (Python `str` order is Spark's UTF-8 byte order), so a broken order
    fails instead of overcounting.

    Callers needing per-occurrence mention rows (tok spans) run
    `extract_all_df` instead; no build runs it (tests and perfbench do)."""
    from pyspark.sql.pandas.types import to_arrow_type

    linked = [T.StructField("subj_cui", cui_type), T.StructField("obj_cui", cui_type),
              T.StructField("conv_first", T.BooleanType()), T.StructField("cui", cui_type),
              T.StructField("link_score", T.DoubleType())]
    # plan-level marker: mentions_view raises on a collapsed input instead of
    # silently returning zero rows (there are no 'm' rows to project)
    return (
        turns.select("conv_id", "turn_idx", "text")
        .mapInArrow(_collapsed_fn(alias_keys_bc, to_arrow_type(cui_type)),
                    T.StructType([*UNIFIED_SCHEMA.fields, *linked]))
        .withMetadata("kind", {"collapsed": True})
    )


def mention_stats_view(unified_collapsed: DataFrame) -> DataFrame:
    """(alias_key, surface, n_mentions) from a collapsed extraction: sum the
    per-task partial counts (kind='s' rows carry them in mention_idx). Counts
    equal the full path's COUNT(*) over per-occurrence rows exactly."""
    from pyspark.sql import functions as F

    return (
        unified_collapsed.filter("kind = 's'")
        .groupBy("alias_key", "surface")
        .agg(F.expr("CAST(sum(mention_idx) AS BIGINT) AS n_mentions"))
    )


def mentions_view(unified: DataFrame) -> DataFrame:
    """Project the mention rows of the unified extraction (MENTIONS_SCHEMA).

    Raises on extract_collapsed_df output (detected via the plan-level
    column marker): a collapsed table has no per-occurrence 'm' rows, so the
    old behavior was a silent zero-row result (r5 advice)."""
    if unified.schema["kind"].metadata.get("collapsed"):
        raise ValueError(
            "mentions_view over a COLLAPSED extraction (kind='s' stat rows "
            "only): per-occurrence mention rows were aggregated away "
            "task-side. Use extract_all_df for token spans, or "
            "mention_stats_view for the counts."
        )
    return unified.filter("kind = 'm'").selectExpr(
        "conv_id", "turn_idx", "sent_idx",
        "CAST(mention_idx AS INT) AS mention_idx",
        "surface", "alias_key",
        "CAST(tok_start AS INT) AS tok_start",
        "CAST(tok_end AS INT) AS tok_end",
    )


def triples_view(unified: DataFrame) -> DataFrame:
    """Project the triple rows of the unified extraction: raw_triples(conv_id,
    turn_idx, sent_idx, subj/pred/obj surfaces+keys, confidence) — unlinked
    SVO pattern hits. Valid on both full and collapsed extractions ('t' rows
    pass through the collapse untouched)."""
    return unified.filter("kind = 't'").selectExpr(
        "conv_id", "turn_idx", "sent_idx",
        "subj_surface", "subj_key", "pred", "obj_surface", "obj_key",
        "CAST(confidence AS DOUBLE) AS confidence",
    )
