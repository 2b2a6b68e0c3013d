"""Stages [2]+[3] — mention detection and SVO triple extraction.

Both run as `mapInPandas` over the turn table: Arrow-batched, per-turn
stateless, NO shuffle (they inherit the conv_id partitioning from stage [1]).
The alias-key dictionary is shipped once per executor as a SparkContext
broadcast (the reference instead held article dictionaries in driver RAM,
rag2-filtering/filtering_module.py:44,62 — here the dictionary rides the
broadcast bus and the data never visits the driver).

Reference analogs:
- sentence split: rag2-retriever/query_encode.py:10-48 (scispacy .sents)
- dictionary candidate generation: FAISS corpus lookup main.py:119-167
- SVO patterns: the engine-side substitute for generation-model extraction
  (SURVEY.md §2.8 M8): deterministic, shared with the oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..core.text import split_sentences

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


def _unified_batches_fn(alias_keys_bc, kind: str | None = None, cols: list | None = None):
    """mapInArrow body: RecordBatch in -> unified RecordBatches out, with an
    optional in-pass kind filter + column projection (Arrow kernels, no
    pandas)."""

    def fn(batches):
        import pyarrow.compute as pc

        from ..core.vectorized import extract_unified_batches

        keys = alias_keys_bc.value
        for batch in batches:
            for rb in extract_unified_batches(
                batch.column("conv_id"), batch.column("turn_idx"),
                batch.column("text"), keys,
            ):
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

_UNIFIED_COLS = list(UNIFIED_SCHEMA.fieldNames())


def extract_all_df(turns: DataFrame, alias_keys_bc) -> DataFrame:
    """Stages [2]+[3] in ONE Arrow pass: each turn's text is sentence-split,
    tokenized, and dictionary-matched exactly once; mention rows (kind='m')
    and triple rows (kind='t') share the output. Downstream callers split
    with a filter — persist the result so both branches reuse the pass.

    The kernel is the VECTORIZED pandas/numpy path (core.vectorized): C-regex
    tokenization over whole Arrow batches + hash-join dictionary probes, with
    interpreted Python only on hit positions. Property-tested row-for-row
    equal to the per-row matcher (`row_path_unified_pdf` below), which it
    replaced after profiling showed the per-token Python loop at ~20k
    turns/s/core was the pipeline's 100x-scale bottleneck. r3: the stage runs
    through mapInArrow — the kernel is Arrow-native in both directions, so
    the mapInPandas conversion layers (Arrow -> per-row Python strings on
    input, object arrays -> Arrow on output) are gone entirely; they were
    ~10x the kernel's own core-time at 32 workers."""
    return turns.select("conv_id", "turn_idx", "text").mapInArrow(
        _unified_batches_fn(alias_keys_bc), UNIFIED_SCHEMA
    )


def extract_collapsed_df(turns: DataFrame, alias_keys_bc) -> DataFrame:
    """Stages [2]+[3] in one Arrow pass, with mention rows COLLAPSED to
    per-task partial stats before they ever leave the Python worker.

    Motivation (r5 steady-state profile): per-occurrence mention rows are
    ~92% of the unified output (1.97M of 2.13M rows at bench scale), but the
    nodes/edges product only ever re-reads them as the vocabulary-sized
    (alias_key, surface, n) aggregate — so caching them is pure dead weight:
    they dominate the Arrow->JVM transfer, the columnar cache build (the
    steady pipeline's single largest phase, ~60% of wall), and the
    mention-stats shuffle. Here each task group-bys its mention hits
    Arrow-side (vectorized hash agg, vocab-sized result) and emits them as
    kind='s' rows carrying the partial count in `mention_idx`; triple rows
    (kind='t') pass through untouched. `mention_stats` then sums the
    partials — bit-identical counts to the full path (parity-tested in
    test_pipeline_parity), with the transcript-sized mention traffic gone.

    Callers needing per-occurrence mention rows (tok spans) run
    `extract_all_df` instead — build_kg keeps its `.mentions` view lazily on
    that path."""
    import numpy as np

    def fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..core.vectorized import extract_unified_batches

        keys = alias_keys_bc.value
        partials = []
        for batch in batches:
            for rb in extract_unified_batches(
                batch.column("conv_id"), batch.column("turn_idx"),
                batch.column("text"), keys,
            ):
                is_t = pc.equal(rb.column("kind"), "t")
                t_rb = rb.filter(is_t)
                if len(t_rb):
                    yield t_rb
                m_tbl = pa.Table.from_batches([rb.filter(pc.invert(is_t))]).select(
                    ["alias_key", "surface"]
                )
                if len(m_tbl):
                    partials.append(
                        m_tbl.group_by(["alias_key", "surface"]).aggregate(
                            [([], "count_all")]
                        )
                    )
        if partials:
            agg = (
                pa.concat_tables(partials)
                .group_by(["alias_key", "surface"])
                .aggregate([("count_all", "sum")])
            )
            n = len(agg)
            zeros = pa.array(np.zeros(n, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([""] * n, pa.string()),                    # conv_id
                    zeros,                                              # turn_idx
                    zeros,                                              # sent_idx
                    pa.array(["s"] * n, pa.string()),                   # kind
                    pc.cast(agg.column("count_all_sum").combine_chunks(), pa.int32()),
                    agg.column("surface").combine_chunks(),
                    agg.column("alias_key").combine_chunks(),
                    pa.nulls(n, pa.int32()),                            # tok_start
                    pa.nulls(n, pa.int32()),                            # tok_end
                    pa.nulls(n, pa.string()),                           # subj_surface
                    pa.nulls(n, pa.string()),                           # subj_key
                    pa.nulls(n, pa.string()),                           # pred
                    pa.nulls(n, pa.string()),                           # obj_surface
                    pa.nulls(n, pa.string()),                           # obj_key
                    pa.nulls(n, pa.float64()),                          # confidence
                ],
                names=_UNIFIED_COLS,
            )

    # plan-level marker: mentions_view raises on a collapsed input instead of
    # silently returning zero rows (there are no 'm' rows to project)
    return (
        turns.select("conv_id", "turn_idx", "text")
        .mapInArrow(fn, UNIFIED_SCHEMA)
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


def row_path_unified_pdf(pdf: pd.DataFrame, keys) -> pd.DataFrame:
    """Per-row Python reference implementation of one unified-extraction batch
    (the original kernel). Kept as the specification the vectorized kernel is
    property-tested against; not used in the hot path.

    Output batches are built as typed columnar arrays (int32/float64 numpy,
    not object tuples): Arrow conversion of 15 object columns was the
    dominant cost of the stage (~2x) at millions of output rows per task.
    Non-applicable columns carry sentinels (-1 / NaN / None) that the
    mentions_view/triples_view projections never read."""
    import numpy as np

    from ..core.patterns import extract_mentions_and_triples

    conv, ti, si_l, kind, midx = [], [], [], [], []
    surf, akey, ts_, te_ = [], [], [], []
    ss, sk, pr, os_, ok_, cf = [], [], [], [], [], []
    for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        for si, sent in enumerate(split_sentences(text)):
            mentions, triples = extract_mentions_and_triples(sent, keys)
            for mi, m in enumerate(mentions):
                conv.append(conv_id); ti.append(turn_idx); si_l.append(si)
                kind.append("m"); midx.append(mi)
                surf.append(m.surface); akey.append(m.alias_key)
                ts_.append(m.tok_start); te_.append(m.tok_end)
                ss.append(None); sk.append(None); pr.append(None)
                os_.append(None); ok_.append(None); cf.append(np.nan)
            for t in triples:
                conv.append(conv_id); ti.append(turn_idx); si_l.append(si)
                kind.append("t"); midx.append(-1)
                surf.append(None); akey.append(None)
                ts_.append(-1); te_.append(-1)
                ss.append(t.subj_surface); sk.append(t.subj_key); pr.append(t.pred)
                os_.append(t.obj_surface); ok_.append(t.obj_key); cf.append(t.confidence)
    return pd.DataFrame(
        {
            "conv_id": conv,
            "turn_idx": np.asarray(ti, dtype="int32"),
            "sent_idx": np.asarray(si_l, dtype="int32"),
            "kind": kind,
            "mention_idx": np.asarray(midx, dtype="int32"),
            "surface": surf,
            "alias_key": akey,
            "tok_start": np.asarray(ts_, dtype="int32"),
            "tok_end": np.asarray(te_, dtype="int32"),
            "subj_surface": ss,
            "subj_key": sk,
            "pred": pr,
            "obj_surface": os_,
            "obj_key": ok_,
            "confidence": np.asarray(cf, dtype="float64"),
        }
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
