"""Seeded input generation for the benchmark workloads.

The program under test only ever sees the parquet these functions write.
Two input families:

- documents -> transcripts (the shape `sources.synth.synth_transcripts`
  derives from the engine's documents table), replicated with a
  seed-salted `conv_id`; dictionary = the 10-alias `synth_aliases` table;
- the `fixtures.gen` concept / alias / conversation generators (Zipf turn
  counts, ambiguous aliases, hot entities, empty turns, duplicate `ts`).

Rows are assigned to files by a seeded draw, so every input is multi-file
and the file layout changes with the seed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from knowledge_graph_integration_rag_biomedical_qna_spark.core.text import normalize_alias
from knowledge_graph_integration_rag_biomedical_qna_spark.fixtures import gen
from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import (
    ALIAS_SPEC,
    PLANT_PREDS,
    PLANT_SUBJECTS,
    TURN_TOKENS,
)

# vocabulary of the engine's synthetic documents corpus (alias words included)
DOC_VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "vector", "scan", "fast", "query", "agg", "slow", "value", "filter",
    "customer", "stream", "table", "window", "data", "join", "key", "row",
    "index", "plan", "cache", "node", "shard", "merge",
]

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])


def synth_alias_pdf() -> pd.DataFrame:
    """The `synth_aliases` dictionary as pandas (oracle side)."""
    return pd.DataFrame(
        [(normalize_alias(a), a, cui, p) for a, cui, p in ALIAS_SPEC],
        columns=["alias_key", "alias", "cui", "prior"],
    )


def doc_transcripts(seed: int, n_docs: int) -> pd.DataFrame:
    """Seeded documents (10-100 tokens) chunked into transcripts with the
    planting arithmetic of `synth_transcripts`: every third turn carries an
    `<alias> <pred> <alias>` sentence."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n_docs)
    words = np.asarray(DOC_VOCAB)[rng.integers(0, len(DOC_VOCAB), size=int(lengths.sum()))]
    n_subj, n_pred = len(PLANT_SUBJECTS), len(PLANT_PREDS)
    rows = []
    pos = 0
    base_ts = np.datetime64("2026-01-01T00:00:00", "us")
    for doc_id, n in enumerate(lengths.tolist()):
        toks = words[pos:pos + n]
        pos += n
        for ti in range(max(-(-n // TURN_TOKENS), 1)):
            chunk = " ".join(toks[ti * TURN_TOKENS:(ti + 1) * TURN_TOKENS])
            if (doc_id + ti) % 3 == 0:
                plant = " ".join((
                    PLANT_SUBJECTS[(doc_id * 7 + ti) % n_subj],
                    PLANT_PREDS[(doc_id + ti) % n_pred],
                    PLANT_SUBJECTS[(doc_id * 13 + ti) % n_subj],
                ))
                text = f"{chunk}. {plant}."
            else:
                text = f"{chunk}."
            rows.append((
                f"conv_{doc_id}", ti, ("user", "assistant", "tool")[ti % 3], text,
                "search" if ti % 3 == 2 else "",
                base_ts + np.timedelta64((doc_id % 100000) * 60 + ti, "s"),
            ))
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def replicate(base: pd.DataFrame, reps: int, salt: str) -> pd.DataFrame:
    """`reps` copies of `base`; copy r of conversation c is `<salt>-<c>-<r>`."""
    parts = []
    for r in range(reps):
        part = base.copy()
        part["conv_id"] = salt + "-" + part["conv_id"] + f"-{r}"
        parts.append(part)
    return pd.concat(parts, ignore_index=True)


def base_conv(conv_id: pd.Series) -> pd.Series:
    """Inverse of `replicate` on the conversation id."""
    return conv_id.str.split("-", n=1).str[1].str.rsplit("-", n=1).str[0]


def fixture_tables(seed: int, n_concepts: int, n_conv: int):
    """(aliases, transcripts) from the seeded `fixtures.gen` generators."""
    rng = np.random.default_rng(seed)
    concepts = gen.gen_concepts(rng, n_concepts)
    aliases = gen.gen_aliases(rng, concepts)
    return aliases, gen.gen_transcripts(rng, aliases, n_conv=n_conv)


def write_files(df: pd.DataFrame, out_dir: str, n_files: int, seed: int) -> None:
    """Write `df` as `n_files` parquet files, rows assigned by a seeded draw."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    which = np.random.default_rng(seed + 1).integers(0, n_files, size=len(df))
    order = np.argsort(which, kind="stable")
    table = pa.Table.from_pandas(df.iloc[order], schema=TRANSCRIPT_SCHEMA, preserve_index=False)
    bounds = np.searchsorted(which[order], np.arange(n_files + 1))
    for f in range(n_files):
        pq.write_table(table.slice(bounds[f], bounds[f + 1] - bounds[f]),
                       os.path.join(out_dir, f"part-{f:03d}.parquet"))


def write_aliases(aliases: pd.DataFrame, path: str) -> None:
    aliases[["alias_key", "alias", "cui", "prior"]].to_parquet(path, index=False)
