"""Deterministic transcript synthesis from the driver-provided documents table.

The driver testdata has no transcripts table, so benchmarks and the flagship
entry query derive one from `documents.parquet` with pure column arithmetic
(no randomness — BASELINE.json forbids external data and Date/random are
unavailable in the oracle path):

- each document becomes one conversation (`conv_<doc_id>`);
- its text is chunked into turns of TURN_TOKENS tokens;
- every third (doc_id + turn_idx) gets a planted `<alias> <pred> <alias>.`
  sentence appended, with alias/pred picked by modular arithmetic — so the KG
  pipeline has deterministic extractable content and a row-count oracle.

The companion alias table maps a subset of the document vocabulary to
synthetic CUIs (including one ambiguous alias to exercise top-k/tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.text import normalize_alias

TURN_TOKENS = 12

# vocabulary words present in the synthetic documents corpus
ALIAS_SPEC: list[tuple[str, str, float]] = [
    ("spark", "K0000001", 0.9),
    ("customer", "K0000002", 0.9),
    ("table", "K0000003", 0.9),
    ("window", "K0000004", 0.9),
    ("vector", "K0000005", 0.9),
    ("column", "K0000006", 0.9),
    ("batch", "K0000007", 0.9),
    ("stream", "K0000008", 0.9),
    # ambiguous alias: two CUIs, distinct priors
    ("data", "K0000009", 0.8),
    ("data", "K0000010", 0.3),
]

PLANT_PREDS = ["inhibits", "treats", "causes", "activates", "prevents"]
PLANT_SUBJECTS = [a for a, _, _ in ALIAS_SPEC[:8]]


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        # Spark SQL unescapes backslashes in literals and substitutes ${var}
        # in the statement text before parsing; \u0024 is decoded after that
        esc = v.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
        return "'" + esc + "'"
    if isinstance(v, float):
        # repr(float) is shortest-round-trip, so the DOUBLE literal parses
        # back to the exact bits createDataFrame would have shipped
        return f"CAST({v!r} AS DOUBLE)"
    return str(v)


def values_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small driver-local table as a SQL VALUES literal, not createDataFrame:
    classic createDataFrame parallelizes Python rows into an RDD-backed plan,
    so every probe/broadcast/collect of the table is a real N-task job
    (~0.45 s of pure scheduling for a 10-row table at local[32], measured
    r6). A VALUES list analyzes to a LocalRelation the optimizer folds
    projections into — driver-local collect, zero jobs, and a broadcast that
    builds straight from driver memory. `schema` is the same simple
    "name type, ..." DDL string createDataFrame took; every column is CAST
    to its declared type so result dtypes are identical."""
    fields = [f.strip().rsplit(" ", 1) for f in schema.split(",")]
    names = ", ".join(n for n, _ in fields)
    sel = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in fields)
    values = ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in rows
    )
    return spark.sql(f"SELECT {sel} FROM VALUES {values} AS t({names})")


def synth_aliases(spark: SparkSession) -> DataFrame:
    """The dictionary as a LocalRelation (see values_df), so
    broadcast_alias_keys collects it with zero Spark jobs."""
    rows = [(normalize_alias(a), a, cui, p) for a, cui, p in ALIAS_SPEC]
    return values_df(
        spark, rows, "alias_key string, alias string, cui string, prior double"
    )


def synth_transcripts(docs: DataFrame) -> DataFrame:
    """documents -> transcripts(conv_id, turn_idx, role, text, tool, ts).

    Built with batched `selectExpr` SQL strings (r6): the column-object form
    cost ~990 py4j round-trips per call — the single largest block of the
    flagship's 0.7-1.3 s driver-side plan-construction overhead. The SQL
    strings parse JVM-side in four round trips; the resolved plan (and every
    gated output hash) is identical.
    """
    n_subj, n_pred = len(PLANT_SUBJECTS), len(PLANT_PREDS)
    subjects = "array(" + ",".join(f"'{s}'" for s in PLANT_SUBJECTS) + ")"
    preds = "array(" + ",".join(f"'{p}'" for p in PLANT_PREDS) + ")"
    # '\\t' etc: SQL literal escapes resolve to regex escapes JVM-side, the
    # same character class the column form passed ([ \t\n\x0b\f\r]+)
    turns = (
        docs.selectExpr(
            "doc_id",
            r"split(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS toks",
        )
        .selectExpr(
            "doc_id",
            "toks",
            f"posexplode(sequence(0, greatest(CAST(ceil(size(toks) / {TURN_TOKENS}) AS INT), 1) - 1)) AS (turn_idx, _pos)",
        )
        .selectExpr(
            "doc_id",
            "CAST(turn_idx AS INT) AS turn_idx",
            f"array_join(slice(toks, turn_idx * {TURN_TOKENS} + 1, {TURN_TOKENS}), ' ') AS chunk",
        )
    )

    plant = (
        "concat_ws(' ', "
        f"element_at({subjects}, CAST(pmod(doc_id * 7 + turn_idx, {n_subj}) + 1 AS INT)), "
        f"element_at({preds}, CAST(pmod(doc_id + turn_idx, {n_pred}) + 1 AS INT)), "
        f"element_at({subjects}, CAST(pmod(doc_id * 13 + turn_idx, {n_subj}) + 1 AS INT)))"
    )
    return turns.selectExpr(
        "concat('conv_', doc_id) AS conv_id",
        "turn_idx",
        "element_at(array('user', 'assistant', 'tool'), CAST(pmod(turn_idx, 3) + 1 AS INT)) AS role",
        "CASE WHEN pmod(doc_id + turn_idx, 3) = 0 "
        f"THEN concat(chunk, '. ', {plant}, '.') "
        "ELSE concat(chunk, '.') END AS text",
        "CASE WHEN pmod(turn_idx, 3) = 2 THEN 'search' ELSE '' END AS tool",
        "to_timestamp('2026-01-01 00:00:00') "
        "+ make_interval(0, 0, 0, 0, 0, 0, (doc_id % 100000) * 60 + turn_idx) AS ts",
    )
