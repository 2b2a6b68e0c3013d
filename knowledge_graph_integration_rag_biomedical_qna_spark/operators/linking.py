"""Stages [4]+[5] — entity-link candidate generation and scoring.

Dataflow (reference shape: retrieve -> rerank -> threshold,
rag2-retriever/main.py:119-167 + rerank.py:37-75 + context_pruning.py:36-51):

1. distinct (alias_key, surface) pairs  — dedup-by-query analog (A6,
   context_pruning.py:79-85): identical surfaces are scored ONCE, however many
   billions of mentions repeat them. This keeps the scoring cost proportional
   to vocabulary, not corpus.
2. broadcast equi-join against the concept_aliases table (J5) — the alias
   table is the small dimension; no shuffle.
3. vectorized pandas-UDF blend score (M1-M3 analog, deterministic).
4. per-surface top-k window with pinned tie-breaks (T1), top-1 + floor
   acceptance (A2 + the 0.5 cosine floor).

The output `resolution` table is tiny (<= distinct surfaces); build_kg
collects it to the driver and broadcasts it against the triples — so stages
[4]-[6] add ZERO shuffles over the transcript-sized tables.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.config import LINK_ACCEPT_FLOOR, TOP_K_CANDIDATES
from ..core.linking import link_score


@F.pandas_udf(T.DoubleType())
def _link_score_udf(surface: pd.Series, alias: pd.Series, prior: pd.Series) -> pd.Series:
    return pd.Series(
        [link_score(s, a, float(p)) for s, a, p in zip(surface, alias, prior)],
        dtype="float64",
    )


def candidate_table(
    mentions_or_triples_surfaces: DataFrame,
    aliases: DataFrame,
    score_partitions: int | None = None,
) -> DataFrame:
    """(alias_key, surface) x broadcast aliases -> scored, ranked candidates.

    Input must have columns (alias_key, surface); output adds
    (cui, prior, score, rank) with rank 1..k, deterministic order.

    Other input columns (mention counts, question ids) pass through to the
    output and `resolution_table`; each must be determined by (alias_key,
    surface), as the dedup keeps one arbitrary row per pair.

    `score_partitions`: coalesce the distinct-surface table before the
    pandas-UDF scoring stage. The table is vocabulary-sized — far smaller
    than the session's transcript parallelism — so running it at full width
    mostly pays per-task scheduling + Python-worker spin-up (measured 35% of
    the stage at local[32] with a 9-surface vocabulary). build_kg passes
    parallelism/16, which still gives a UMLS-scale vocabulary (~16M surfaces)
    tens-to-hundreds of score tasks on a real cluster.

    Join strategy is left to Catalyst/AQE (no forced broadcast hint): a
    normal dictionary auto-broadcasts under the session threshold, while a
    >20M-alias dictionary — the regime broadcast_alias_keys spills to a
    side-file for — must NOT be forced through the driver as a broadcast
    table (r4 review: the hint reintroduced the very materialization the
    spill path exists to avoid); AQE picks surfaces-side broadcast or a
    shuffle join on alias_key as sizes dictate."""
    surfaces = mentions_or_triples_surfaces.dropDuplicates(["alias_key", "surface"])
    if score_partitions is not None:
        surfaces = surfaces.coalesce(max(1, score_partitions))
    cands = surfaces.join(aliases, "alias_key", "inner").withColumn(
        "score", _link_score_udf(F.col("surface"), F.col("alias"), F.col("prior"))
    )
    # SQL-string window (r6 plan-construction diet): one parse round trip;
    # DESC/ASC defaults (NULLS LAST / NULLS FIRST) match .desc()/.asc()
    return cands.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY alias_key, surface "
        "ORDER BY score DESC, prior DESC, cui ASC) AS rank",
    ).drop("alias").filter(f"rank <= {int(TOP_K_CANDIDATES)}")


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
