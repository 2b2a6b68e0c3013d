"""Stages [4]+[5] — entity-link candidate generation and scoring.

Dataflow (reference shape: retrieve -> rerank -> threshold,
rag2-retriever/main.py:119-167 + rerank.py:37-75 + context_pruning.py:36-51):

1. `candidate_table`: distinct (alias_key, surface) pairs — dedup-by-query
   analog (A6, context_pruning.py:79-85) — then one Arrow pass
   (`mapInArrow`) that looks each alias_key up in the dictionary shipped
   with the matcher's AliasIndex (candidate generation, J5 as a lookup: no
   join, no dictionary scan), scores every candidate with
   `core.linking.link_score` (M1-M3 analog, deterministic) and keeps the
   top-k under pinned tie-breaks (T1). The pass keeps its input's
   partitioning, so it adds no exchange.
2. top-1 + floor acceptance (A2 + the 0.5 cosine floor): `resolution_table`.

Steps 1+2 are the specification of linking; tests and perfbench run them.
The build and the ask do not: their extraction passes link each task's
distinct pairs in place with `pair_linker`, which ranks by the same rule
(`_ranked`) and accepts by the same floor (`_accepted`), so linking costs
no job, join, broadcast or exchange of its own. Scoring then runs once per
distinct pair per task, proportional to the pairs each task already ships,
not to the global vocabulary.
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


def _ranked(surface, cands) -> list:
    """One surface's dictionary candidates `(cui, alias, prior)` as
    `(score, prior, cui)` in `_window_order`, best first; a null prior
    scores null. The one ranking rule of the table and the in-pass linker."""
    return sorted(
        ((None if p is None else link_score(surface, a, float(p)), p, c) for c, a, p in cands),
        key=_window_order,
    )


def _accepted(score, cui) -> bool:
    """`resolution_table`'s rule for a top-1 candidate, in Python: a null
    score or a null cui links nothing, and NaN passes the floor because
    Spark orders NaN above every number."""
    return cui is not None and score is not None and (score != score or score >= LINK_ACCEPT_FLOOR)


def pair_linker(alias_index):
    """`link(alias_key, surface) -> (cui, score) | None`: the accepted top-1
    link of one pair, looked up in the dictionary `alias_index` ships and
    memoized, so a task scores each distinct pair once however many
    mentions repeat it. Call it inside a task: each lookup reads the
    index's sorted rows in place (raises on a keys-only index)."""
    index = alias_index.value
    memo: dict = {}

    def link(key, surface):
        pair = (key, surface)
        if pair not in memo:
            ranked = _ranked(surface, index.candidates_of(key))
            score, _, cui = ranked[0] if ranked else (None, None, None)
            memo[pair] = (cui, score) if _accepted(score, cui) else None
        return memo[pair]

    return link


def _candidates_fn(alias_index, cui_type, prior_type):
    def candidates(batches):
        """mapInArrow body: each input row comes back once per candidate of
        its alias_key, the top TOP_K_CANDIDATES in `_window_order`, with cui,
        prior, score and rank appended; a null prior scores null."""
        import pyarrow as pa

        index = alias_index.value
        for batch in batches:
            out = []
            for i, (key, surface) in enumerate(zip(
                batch.column("alias_key").to_pylist(), batch.column("surface").to_pylist()
            )):
                scored = _ranked(surface, index.candidates_of(key))
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
    there is no join, no dictionary scan and no window exchange; each
    Python worker reads the dictionary once, from the file
    broadcast_alias_keys ships."""
    if alias_index is None:
        # lazy import: plans.pipeline composes this module
        from ..plans.pipeline import broadcast_alias_keys

        alias_index = broadcast_alias_keys(aliases.sparkSession, aliases)
    from pyspark.sql.pandas.types import to_arrow_type

    surfaces = mentions_or_triples_surfaces.dropDuplicates(["alias_key", "surface"])
    cui, prior = aliases.schema["cui"], aliases.schema["prior"]
    return surfaces.mapInArrow(
        _candidates_fn(alias_index, to_arrow_type(cui.dataType), to_arrow_type(prior.dataType)),
        T.StructType([*surfaces.schema.fields, cui, prior,
                      T.StructField("score", T.DoubleType()),
                      T.StructField("rank", T.IntegerType(), False)]),
    )


def resolution_table(candidates: DataFrame) -> DataFrame:
    """Accepted top-1 links: (alias_key, surface, cui, score) plus the
    pass-through columns of `candidate_table`'s input. A top candidate with
    a null cui names no concept, so its surface stays unlinked."""
    return candidates.filter(
        f"rank = 1 AND cui IS NOT NULL AND score >= {LINK_ACCEPT_FLOOR!r}"
    ).drop(
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
