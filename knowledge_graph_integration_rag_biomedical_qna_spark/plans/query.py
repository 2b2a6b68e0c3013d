"""Query-side retrieval over the constructed KG.

The reference's runtime use is: question -> retrieve evidence -> rerank ->
top-k (rag2-retriever/main.py). Against the constructed graph that becomes:

  questions(question_id, text)
    -> mention detection over question text (same extractor as ingestion)
    -> entity linking (same resolution semantics)
    -> probe kg_edge_stats' two endpoint CUIs (1-hop neighborhood)
    -> score = evidence-weighted link score, per-question top-k window

`link_questions` returns a lazy plan and `retrieve_evidence` composes on top
of it, so one ask is one adaptive query of three Spark jobs (the link pass
with its broadcast, the edge scan's map stage, the one-task result): one
Arrow pass detects and links the questions' mentions, nothing is cached or
checkpointed, and `kg_edge_stats` is read by one scan, which ships at most k
rows per question per scan task; no range exchange samples it first. The
link pass is ONE Python task per ask, however the questions are
partitioned: one worker builds the dictionary index and each distinct
(alias_key, surface) is scored once. That pays off for asks of a handful of
questions in a LocalRelation; past that, or over a Python RDD, it costs wall
time (measured in `link_questions`). A single question is the degenerate
one-row case. The question links are the broadcast side of the edge join —
question-sized by construction, and they reach the broadcast with no shuffle
— so the graph is never shuffled to meet them.
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

    The questions are coalesced to one partition, so the whole ask links in
    one Python task: one worker builds the dictionary index, and the pass
    detects the dictionary mentions, dedups them per (question, alias_key,
    surface) and scores each distinct (alias_key, surface) pair once per ask
    against the candidates `keys_bc` already ships for the matcher — the
    same ranking and acceptance as `resolution_table(candidate_table(...))`.
    The coalesce adds no exchange, and the links are the broadcast side of
    `retrieve_evidence`, collected to the driver either way. The plan reads
    no dictionary table and has no join or aggregate.

    The trade-off: one task gives up parallelism, and a question table
    backed by a Python RDD (`createDataFrame` of a list) also converts its
    rows serially inside it. Warm link-pass wall to a noop sink, local[4],
    shared 4-vCPU host, questions over `synth_aliases`, one task (one per
    question partition): 16 from `values_df` 0.22-0.35 s (0.30-0.55 s);
    from a 4-partition `createDataFrame` 16 0.61-0.93 s (0.48-0.72 s), 10k
    0.86-1.15 s (0.47-0.83 s), 100k 1.41-1.63 s (0.63-1.13 s). The shipped
    callers ask a handful of `values_df` questions (`kg_query serve` takes
    one JSON list a line)."""
    from pyspark.sql.pandas.types import to_arrow_type

    cui = aliases.schema["cui"]
    qid_type = questions.schema["question_id"].dataType.simpleString()
    return questions.coalesce(1).selectExpr(
        "CAST(question_id AS STRING) AS conv_id", "0 AS turn_idx", "text",
    ).mapInArrow(
        _question_links_fn(keys_bc, to_arrow_type(cui.dataType)),
        T.StructType([T.StructField("question_id", T.StringType()),
                      T.StructField("cui", cui.dataType),
                      T.StructField("link_score", T.DoubleType())]),
    ).selectExpr(f"CAST(question_id AS {qid_type}) AS question_id", "cui", "link_score")


def _incident_edges(edges: DataFrame, keys: DataFrame) -> DataFrame:
    """Edges touching each key's `cui`, in one scan: both endpoints explode
    into `cui` (deduplicated, so a self-loop matches once) and one equi-join
    on `cui` replaces a join per endpoint plus their union."""
    return edges.selectExpr(
        "*", "explode(array_distinct(array(subj_cui, obj_cui))) AS cui"
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
        # `n_evidence > 0` always holds (a count); it keeps n_evidence in the
        # frontier's read, so both hops read the same kg_edge_stats columns
        # and a lazy build's edge aggregate runs once, its exchange reused
        frontier = (
            h1.filter("n_evidence > 0")
            .select("seed_cui", F.explode(F.array("subj_cui", "obj_cui")).alias("cui"))
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

    An edge's link_score for a question is the max over the question's links
    to either endpoint (a CUI linked through two surfaces counts its best).
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

    Plan: the one-task link pass folds into one broadcast row per cui, a
    map struct(question_id) -> max(link_score) (the struct lets a null id be
    a key); both aggregates keep the link pass's single partition, so
    neither adds an exchange. Each `kg_edge_stats` row
    probes that broadcast for subj_cui and for obj_cui (the second probe
    reuses the first's broadcast), rows neither endpoint hit drop, and the
    explode of the two maps merged by `greatest` yields exactly one row per
    (question, edge) with its best score, so no max-aggregate follows.
    Because those rows are already unique, Spark puts a partial
    `WindowGroupLimit` under the hash exchange on question_id: each scan
    task ships at most k rows per question. The window runs after it, and
    the plan ends in `coalesce(1)`, whose single partition already meets a
    caller's orderBy("question_id", "rank"), so that adds only a local sort:
    `kg_edge_stats` is scanned once, with no range exchange and no sampling
    job.

    The query is one SQL string (the two inputs bound as temporary views
    for the call), so building it costs 9 py4j calls (95 as a DataFrame
    chain). It assumes what the build writes, one `kg_edge_stats` row per
    edge.

    Trade-offs: the partial limit needs k <=
    `spark.sql.optimizer.windowGroupLimitThreshold` (1000 by default); above
    it, every hit crosses the shuffle and reaches the one-task tail. The tail
    is one task: it ranks at most (scan tasks x questions x k) rows. Each scan
    task sorts all of its hits for the partial limit (on a hub-heavy graph,
    most of the scan). Warm 16-question ask, local[4], shared 4-vCPU host,
    synthetic 3.9M-edge graph (`tools/ask_probe.py --edges 4000000`): 1.5 s
    against 2.7-2.9 s for the range-exchange plan this replaced; with 73% of
    the edges touching a linked CUI (`--shape hub`), 3.2-3.6 s against
    4.7-6.6 s.
    """
    return question_links.sparkSession.sql(
        """
        WITH by_cui AS (
          SELECT cui, map_from_entries(collect_list(struct(struct(question_id), s))) AS q
          FROM (SELECT cui, question_id, max(link_score) AS s
                FROM {links} GROUP BY cui, question_id)
          GROUP BY cui
        ), hits AS (
          SELECT /*+ BROADCAST(s, o) */
                 explode(coalesce(map_zip_with(s.q, o.q, (_, a, b) -> greatest(a, b)), s.q, o.q))
                   AS (q, link_score),
                 e.subj_cui, e.pred, e.obj_cui, e.n_evidence, e.avg_confidence
          FROM {edges} e
          LEFT JOIN by_cui s ON e.subj_cui = s.cui
          LEFT JOIN by_cui o ON e.obj_cui = o.cui
          WHERE s.q IS NOT NULL OR o.q IS NOT NULL
        ), scored AS (
          SELECT q.question_id, subj_cui, pred, obj_cui, n_evidence,
                 CAST(round(link_score * avg_confidence * log1p(n_evidence) * 1e6) AS BIGINT)
                   AS rank_score_micro
          FROM hits
        )
        SELECT /*+ COALESCE(1) */ * FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY question_id
                   ORDER BY rank_score_micro DESC, subj_cui, pred, obj_cui) AS BIGINT) AS rank
          FROM scored)
        WHERE rank <= {k}
        """,
        links=question_links, edges=kg_edge_stats, k=int(k),
    )
