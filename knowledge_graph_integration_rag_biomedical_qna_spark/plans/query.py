"""Query-side retrieval over the constructed KG.

The reference's runtime use is: question -> retrieve evidence -> rerank ->
top-k (rag2-retriever/main.py). Against the constructed graph that becomes:

  questions(question_id, text)
    -> mention detection over question text (same extractor as ingestion)
    -> entity linking (same resolution semantics)
    -> join kg_edge_stats on either endpoint CUI (1-hop neighborhood)
    -> score = evidence-weighted link score, per-question top-k window

`link_questions` returns a lazy plan and `retrieve_evidence` composes on top
of it, so one ask is one adaptive query: one Arrow pass detects and links the
questions' mentions, nothing is cached or checkpointed, and `kg_edge_stats` is
scanned once. Batch-oriented: a million questions retrieve in one job; a
single question is the degenerate one-row case. The question links are the
broadcast side of the edge join — question-sized by construction, and they
reach the broadcast with no shuffle — so the graph is never shuffled to meet
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Unused here since questions link inside their extraction pass. perfbench's
# traced ask wraps these names on this module, so they stay importable.
from ..operators.extraction import detect_mentions_df  # noqa: F401
from ..operators.linking import candidate_table, resolution_table  # noqa: F401


def _question_links_fn(alias_index, cui_type):
    """The link_questions pass body over `alias_index` (an AliasIndex handle
    carrying link candidates); `cui_type` is the Arrow type of `cui`."""

    def question_links(batches):
        """mapInArrow body: detect each question's dictionary mentions, keep
        one per (question, alias_key, surface), link it, and emit
        (question_id, cui, link_score) for each accepted link."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..operators.extraction import kernel_batches
        from ..operators.linking import pair_linker

        link = pair_linker(alias_index)
        seen = set()
        for rb in kernel_batches(batches, alias_index.value):
            hits = rb.filter(pc.equal(rb.column("kind"), "m"))
            out = []
            for row in zip(*(hits.column(c).to_pylist()
                             for c in ("conv_id", "alias_key", "surface"))):
                if row not in seen:
                    seen.add(row)
                    linked = link(row[1], row[2])
                    if linked:
                        out.append((row[0], *linked))
            if out:
                qids, cuis, scores = zip(*out)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(qids, pa.string()), pa.array(cuis, cui_type),
                     pa.array(scores, pa.float64())],
                    names=["question_id", "cui", "link_score"],
                )

    return question_links


def link_questions(
    spark: SparkSession, questions: DataFrame, aliases: DataFrame, keys_bc
) -> DataFrame:
    """questions(question_id, text) -> (question_id, cui, link_score), one
    row per (question, linked surface). Lazy: building it starts no job.

    question_id keeps its INPUT type: the id rides the extractor as a string
    conv_id and is cast back on the way out (r4 review: a stringified id made
    the gated output string-typed against an int32 oracle, and string order
    diverges from numeric past 9 questions).

    One Arrow pass over the questions detects the dictionary mentions,
    dedups them per (question, alias_key, surface) and links each distinct
    pair once per task against the candidates `keys_bc` already ships for
    the matcher — the same ranking and acceptance as
    `resolution_table(candidate_table(...))`. The plan reads no dictionary
    table and has no join, aggregate or exchange: the links keep the
    questions' partitioning on their way to the evidence broadcast."""
    from pyspark.sql.pandas.types import to_arrow_type

    cui = aliases.schema["cui"]
    turns_like = questions.select(
        F.col("question_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("text"),
    )
    return turns_like.mapInArrow(
        _question_links_fn(keys_bc, to_arrow_type(cui.dataType)),
        T.StructType([T.StructField("question_id", T.StringType()),
                      T.StructField("cui", cui.dataType),
                      T.StructField("link_score", T.DoubleType())]),
    ).withColumn(
        "question_id", F.col("question_id").cast(questions.schema["question_id"].dataType)
    )


def _incident_edges(edges: DataFrame, keys: DataFrame) -> DataFrame:
    """Edges touching each key's `cui`, in one scan: both endpoints explode
    into `cui` (deduplicated, so a self-loop matches once) and one equi-join
    on `cui` replaces a join per endpoint plus their union."""
    return edges.withColumn(
        "cui", F.explode(F.array_distinct(F.array("subj_cui", "obj_cui")))
    ).join(keys, "cui").drop("cui")


def neighborhood(kg_edge_stats: DataFrame, seeds: DataFrame, hops: int = 1, k: int = 50) -> DataFrame:
    """Per-seed subgraph fetch over the deduplicated edge view (the `kg query
    neighbors` CLI surface; reference analog: the retriever's per-query
    evidence fan-in, rag2-retriever/main.py:119-167).

    seeds(seed_cui) -> (seed_cui, hop, subj_cui, pred, obj_cui, n_evidence,
    rank): hop 1 = edges incident to the seed, hop 2 = edges incident to the
    1-hop frontier; an edge reachable at both keeps hop 1. Ranked per seed by
    (hop asc, n_evidence desc, endpoint tie-break), top-k per seed. Seeds are
    broadcast (query-sized); the frontier join is left unhinted — AQE
    broadcasts it while small and shuffles on cui when a hub seed explodes
    the frontier."""
    e = kg_edge_stats.select("subj_cui", "pred", "obj_cui", "n_evidence")
    s = seeds.select("seed_cui", F.col("seed_cui").alias("cui")).distinct()
    h1 = _incident_edges(e, F.broadcast(s)).withColumn("hop", F.lit(1))
    out = h1
    if hops >= 2:
        frontier = (
            h1.select("seed_cui", F.explode(F.array("subj_cui", "obj_cui")).alias("cui"))
            .filter(F.col("cui") != F.col("seed_cui"))
            .distinct()
        )
        out = out.unionByName(_incident_edges(e, frontier).withColumn("hop", F.lit(2)))
    out = out.groupBy("seed_cui", "subj_cui", "pred", "obj_cui", "n_evidence").agg(
        F.min("hop").alias("hop")
    )
    w = Window.partitionBy("seed_cui").orderBy(
        F.col("hop").asc(), F.col("n_evidence").desc(),
        "subj_cui", "pred", "obj_cui",
    )
    return (
        out.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("seed_cui", F.col("hop").cast("int").alias("hop"),
                "subj_cui", "pred", "obj_cui", "n_evidence", "rank")
    )


def retrieve_evidence(
    question_links: DataFrame,
    kg_edge_stats: DataFrame,
    k: int = 10,
) -> DataFrame:
    """1-hop evidence edges per question, ranked by evidence-weighted score.

    rank_score_micro = round(link_score * avg_confidence * ln(1 + n_evidence)
    * 1e6) as BIGINT — integer micro-units, not a raw double: the product of
    two quantized doubles times a libm log1p differs between JVM and numpy in
    the last ulp, and round(x, 6) of two almost-equal doubles is not
    bit-identical even when it prints identically at 9 dp (the r3 driver-hash
    failure). The integer removes the REPRESENTATION hazard entirely; the
    residual risk is a genuine cross-engine half-boundary crossing (the
    product landing within ~1 ulp of N.5 micro-units, probability ~2^-40 per
    row) — inherent to any quantization of a libm-bearing expression, and
    strictly smaller than the float column's combined hazards. Ties pinned
    on (subj_cui, pred, obj_cui). Top-k via per-question window (T1).

    Plan: one `kg_edge_stats` scan joins the broadcast question links, then
    ONE range exchange on question_id. The max-aggregate, the top-k window
    and a caller's orderBy("question_id", "rank") all accept that
    partitioning, so none adds an exchange. Trade-off: all of a hub
    question's hits land in one partition, where the aggregate and the
    window spill instead of spreading.
    """
    hits = (
        _incident_edges(kg_edge_stats, F.broadcast(question_links))
        .repartitionByRange("question_id")
        .groupBy(
            "question_id", "subj_cui", "pred", "obj_cui", "n_evidence", "avg_confidence"
        )
        .agg(F.max("link_score").alias("link_score"))
    )
    scored = hits.withColumn(
        "rank_score_micro",
        F.round(
            F.col("link_score") * F.col("avg_confidence")
            * F.log1p(F.col("n_evidence")) * F.lit(1e6)
        ).cast("bigint"),
    )
    w = Window.partitionBy("question_id").orderBy(
        F.col("rank_score_micro").desc(), F.col("subj_cui"), F.col("pred"), F.col("obj_cui")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "question_id", "subj_cui", "pred", "obj_cui",
            "n_evidence", "rank_score_micro", "rank",
        )
    )
