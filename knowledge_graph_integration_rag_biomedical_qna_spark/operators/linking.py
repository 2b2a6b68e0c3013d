"""Stages [4]+[5] — entity-link candidate generation and scoring.

Dataflow (reference shape: retrieve -> rerank -> threshold,
rag2-retriever/main.py:119-167 + rerank.py:37-75 + context_pruning.py:36-51):

1. distinct (alias_key, surface) pairs  — dedup-by-query analog (A6,
   context_pruning.py:79-85): identical surfaces are scored ONCE, however many
   billions of mentions repeat them. This keeps the scoring cost proportional
   to vocabulary, not corpus.
2. one Arrow pass (`mapInArrow`) per surface batch: look the alias_key up in
   the dictionary shipped with the matcher's AliasIndex (candidate
   generation, J5 as a lookup: no join, no dictionary scan), score every
   candidate with `core.linking.link_score` (M1-M3 analog, deterministic),
   and keep the top-k under pinned tie-breaks (T1). The pass keeps its
   input's partitioning, so linking adds no exchange.
3. top-1 + floor acceptance (A2 + the 0.5 cosine floor): `resolution_table`.

The output `resolution` table is tiny (<= distinct surfaces); build_kg
collects it to the driver and broadcasts it against the triples — so stages
[4]-[6] add ZERO shuffles over the transcript-sized tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.config import LINK_ACCEPT_FLOOR, TOP_K_CANDIDATES
from ..core.linking import link_score


def _desc_nulls_last(x):
    """`DESC NULLS LAST` sort key of one double, in Spark's order (NaN above
    every number)."""
    return (2, 0.0) if x is None else (0, 0.0) if x != x else (1, -x)


def _window_order(cand):
    """Sort key of a (score, prior, cui) candidate: `score DESC NULLS LAST,
    prior DESC NULLS LAST, cui ASC NULLS FIRST`."""
    score, prior, cui = cand
    return _desc_nulls_last(score), _desc_nulls_last(prior), cui is not None, cui


def _candidates_fn(alias_index, cui_type, prior_type):
    def candidates(batches):
        """mapInArrow body: each input row comes back once per candidate of
        its alias_key, the top TOP_K_CANDIDATES in `_window_order`, with cui,
        prior, score and rank appended; a null prior scores null."""
        import pyarrow as pa

        by_key = alias_index.value.candidates_by_key()
        for batch in batches:
            out = []
            for i, (key, surface) in enumerate(zip(
                batch.column("alias_key").to_pylist(), batch.column("surface").to_pylist()
            )):
                scored = sorted(
                    ((None if p is None else link_score(surface, a, float(p)), p, c)
                     for c, a, p in by_key.get(key, ())),
                    key=_window_order,
                )
                out += [(i, c, p, s, rank)
                        for rank, (s, p, c) in enumerate(scored[:TOP_K_CANDIDATES], 1)]
            take, cuis, priors, scores, ranks = zip(*out) if out else ((),) * 5
            yield pa.RecordBatch.from_arrays(
                [*batch.take(pa.array(take, pa.int64())).columns,
                 pa.array(cuis, cui_type), pa.array(priors, prior_type),
                 pa.array(scores, pa.float64()), pa.array(ranks, pa.int32())],
                names=[*batch.schema.names, "cui", "prior", "score", "rank"],
            )

    return candidates


def candidate_table(
    mentions_or_triples_surfaces: DataFrame,
    aliases: DataFrame,
    score_partitions: int | None = None,
    alias_index=None,
) -> DataFrame:
    """(alias_key, surface) -> scored, ranked dictionary candidates.

    Input must have columns (alias_key, surface); output keeps the input's
    columns and adds (cui, prior, score, rank) with rank 1..k, deterministic
    order. Each surface's candidates are the dictionary rows under its
    alias_key (a duplicated row stays two candidates); a surface whose key
    is not in the dictionary, or is null, has none.

    Other input columns (mention counts, question ids) pass through to the
    output and `resolution_table`; each must be determined by (alias_key,
    surface), as the dedup keeps one arbitrary row per pair.

    `alias_index`: the broadcast_alias_keys() result whose shipped
    dictionary the candidates come from; None ships `aliases` here. Either
    way `aliases` only types the cui and prior columns. An index built
    without candidates raises when the plan runs. The lookup, scoring and
    top-k run in one Arrow pass that keeps its input's partitioning, so
    there is no join, no dictionary scan and no window exchange.

    `score_partitions`: coalesce the distinct-surface table before the
    Arrow pass. The table is vocabulary-sized — far smaller than the
    session's transcript parallelism — so running it at full width mostly
    pays per-task scheduling + Python-worker spin-up (measured 35% of the
    stage at local[32] with a 9-surface vocabulary). build_kg passes
    parallelism/16, which still gives a UMLS-scale vocabulary (~16M surfaces)
    tens-to-hundreds of score tasks on a real cluster; a >20M-alias
    dictionary reaches those tasks as broadcast_alias_keys' spill file, read
    once per Python worker."""
    if alias_index is None:
        # lazy import: plans.pipeline composes this module
        from ..plans.pipeline import broadcast_alias_keys

        alias_index = broadcast_alias_keys(aliases.sparkSession, aliases)
    from pyspark.sql.pandas.types import to_arrow_type

    surfaces = mentions_or_triples_surfaces.dropDuplicates(["alias_key", "surface"])
    if score_partitions is not None:
        surfaces = surfaces.coalesce(max(1, score_partitions))
    cui, prior = aliases.schema["cui"], aliases.schema["prior"]
    return surfaces.mapInArrow(
        _candidates_fn(alias_index, to_arrow_type(cui.dataType), to_arrow_type(prior.dataType)),
        T.StructType([*surfaces.schema.fields, cui, prior,
                      T.StructField("score", T.DoubleType()),
                      T.StructField("rank", T.IntegerType(), False)]),
    )


def resolution_table(candidates: DataFrame) -> DataFrame:
    """Accepted top-1 links: (alias_key, surface, cui, score) plus the
    pass-through columns of `candidate_table`'s input."""
    return candidates.filter(f"rank = 1 AND score >= {LINK_ACCEPT_FLOOR!r}").drop(
        "prior", "rank"
    )


def resolve_mentions(mentions: DataFrame, resolution: DataFrame) -> DataFrame:
    """Attach accepted CUIs to every mention occurrence (broadcast join)."""
    return mentions.join(F.broadcast(resolution), ["alias_key", "surface"], "inner")


def resolve_triples(raw_triples: DataFrame, resolution: DataFrame) -> DataFrame:
    """CUI-resolve both endpoints of each raw triple (two broadcast joins);
    triples with an unresolvable endpoint are dropped (same as oracle)."""
    subj = resolution.selectExpr(
        "alias_key AS subj_key", "surface AS subj_surface", "cui AS subj_cui"
    )
    obj = resolution.selectExpr(
        "alias_key AS obj_key", "surface AS obj_surface", "cui AS obj_cui"
    )
    return (
        raw_triples.join(F.broadcast(subj), ["subj_key", "subj_surface"], "inner")
        .join(F.broadcast(obj), ["obj_key", "obj_surface"], "inner")
        .select(
            "conv_id", "turn_idx", "subj_cui", "pred", "obj_cui",
            "subj_surface", "obj_surface", "confidence",
        )
    )
