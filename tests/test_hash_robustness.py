"""Driver-hash robustness audit (r3 verdict item 2).

The driver's correctness gate hashes Spark and oracle results at the raw
value level (17-significant-digit repr of doubles, exact integer text).
Two producer classes have actually bitten:

  (a) raw doubles whose producer is a MULTI-TERM float expression crossing
      engines with different libm/summation (JVM vs numpy): last-ulp drift
      survives ``round(x, 6)`` as a REPRESENTATION difference — two doubles
      that print identically at 9 dp but differ in the last bit
      (r3: ``kg_question_retrieval.rank_score``);
  (b) DuckDB widening integer aggregates to HUGEINT/int128, which formats
      differently from Spark's BIGINT (r3: ``q5_join_breadth.revenue_c4``).

Policy pinned by this module:

  1. no pure-SQL gated oracle may surface a HUGEINT/DECIMAL column — every
     integer aggregate is CAST back to BIGINT in the oracle SQL;
  2. every DOUBLE column in a gated oracle output must be on the audited
     whitelist below, each entry carrying its bit-stability argument;
  3. the materialized-oracle module (numpy producers — the class that
     actually failed) must quantize floats ONLY via Decimal ROUND_HALF_UP
     twins of F.round, never pandas/np ``.round`` (pairwise-summed,
     half-even, multiply-divide — yields a different double than Spark's
     BigDecimal rounding for the same printed value).

Bit-stability arguments used below:
  - "passthrough": the column is read from the input parquet and projected
    unchanged — both engines hash the stored bits.
  - "single-division": integer-exact numerator/denominator with one IEEE
    division (correctly rounded) — both engines compute the identical
    double.
  - "same-kernel": the value is computed by the SAME Python/Arrow kernel
    code in the engine and the oracle (extraction confidence) — identical
    code, identical bits.
  - "decimal-twin": Spark F.round(x, 6) and the oracle's Decimal
    ROUND_HALF_UP both emit the nearest double of the same 6-dp decimal;
    pre-round drift is quantized away except within ~1 ulp of a rounding
    boundary (~1e-10/value — the residual risk every rounding scheme,
    integer or float, shares).
  - "scaled-sum": big double sums are scaled (/1000) before round(.., 2|3)
    so cross-engine summation-order noise (~1e-10 relative) sits far below
    the rounding step; both engines then emit nearest-double-of-decimal.
  - "libm-round6": per-row exp/ln on identical input doubles; JVM and
    DuckDB libm agree to the last ulp or differ below the 1e-6 rounding
    step except within ~1 ulp of a boundary (same residual as above).
"""

from __future__ import annotations

import os
import re

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# (query, column) -> bit-stability argument. A DOUBLE column in a gated
# oracle that is NOT here fails the audit: either convert it to integer
# micro-units in BOTH engines or add it with a real argument.
AUDITED_DOUBLE_COLUMNS = {
    ("kg_pipeline_full", "confidence"): "same-kernel",
    ("kg_streaming_ingest", "confidence"): "same-kernel",
    ("kg_checkpointed_run", "confidence"): "same-kernel",
    ("kg_edge_stats_full", "avg_confidence"): "decimal-twin (sequential-fold mean)",
    ("kg_entity_link_top1", "prior"): "passthrough (dictionary literal)",
    ("dedup_minhash_pairs", "jaccard"): "single-division (set counts)",
    ("dedup_minhash_pairs_fast", "jaccard"): "single-division (set counts)",
    ("dedup_ngram_jaccard", "jaccard"): "single-division (set counts)",
    ("ann_cosine_topk", "cosine"): "decimal-twin (sequential-fold dot)",
    ("ann_ivf_topk", "cosine"): "decimal-twin (sequential-fold dot)",
    ("ann_threshold_pairs", "cosine"): "decimal-twin (sequential-fold dot)",
    ("prune_threshold_rank", "value"): "passthrough",
    # q1/q3 monetary aggregates converted r4 to exact integer cents (per-row
    # rounding before the sum) — no scaled-sum entries remain in the gate
    ("q3_order_revenue", "o_totalprice"): "passthrough",
    # q2_min_subquery (passthrough) and f_math_functions (libm-round6)
    # rotated below the gate in r6; their entries come back with them
    ("merge_upsert_orders", "o_totalprice"): "passthrough (x2 exact)",
    # r6 gate rotation brought six long-stable queries back inside the cap
    # (all were driver-green r1/r2 under the same hasher — arguments below
    # say WHY that held and still holds):
    ("a2_argmax_per_group", "value"): "passthrough",
    ("t1_topk_per_group", "l_extendedprice"): "passthrough",
    ("p4_percentile_filter", "value"): "passthrough (p75 is filter-only)",
    ("p2_delta_threshold_filter", "delta"):
        "decimal-twin (partition-mean drift ~1e-15 << the round(.,4) step)",
    ("q19_disjunctive_predicates", "sum_qty"):
        "integer-exact sum (l_quantity integer-valued; partials < 2^53, "
        "order-independent)",
    ("grouping_sets_agg", "sum_qty"):
        "integer-exact sum (l_quantity integer-valued; partials < 2^53, "
        "order-independent)",
}

_FORBIDDEN_TYPES = re.compile(r"HUGEINT|INT128|DECIMAL", re.IGNORECASE)


def _gate_oracles():
    from knowledge_graph_integration_rag_biomedical_qna_spark.entry_queries import (
        REGISTRY,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.oracle import (
        materialize as M,
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    tag = os.path.basename(os.path.normpath(SF_DIR))
    out = []
    for name in list(REGISTRY)[:50]:
        sql = REGISTRY[name][1]
        assert sql is not None, f"{name} sits in the driver gate without an oracle"
        if "read_parquet" in sql and "/current/" in sql:
            M.materialize(SF_DIR, name)
            sql = sql.replace(f"/current/{M.GATE_SF_TAG}/", f"/current/{tag}/")
        out.append((name, con, sql))
    return out


@pytest.fixture(scope="module")
def gate_described():
    """DESCRIBE every gated oracle once (DuckDB only — no Spark session)."""
    rows = []
    for name, con, sql in _gate_oracles():
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        rows.append((name, [(c[0], c[1]) for c in desc]))
    return rows


def test_no_hugeint_reaches_the_hasher(gate_described):
    """Policy 1: DuckDB integer aggregates must be CAST back to BIGINT in
    every gated oracle (the q5_join_breadth failure class, fixed r4)."""
    bad = [
        (name, col, typ)
        for name, cols in gate_described
        for col, typ in cols
        if _FORBIDDEN_TYPES.search(typ)
    ]
    assert not bad, f"un-CAST widened integer aggregates in gated oracles: {bad}"


def test_every_gated_double_is_audited(gate_described):
    """Policy 2: any DOUBLE column in a gated oracle output needs an entry in
    AUDITED_DOUBLE_COLUMNS with a bit-stability argument — otherwise convert
    it to integer micro-units in both engines (see kg_question_retrieval's
    rank_score_micro for the pattern)."""
    unaudited = [
        (name, col)
        for name, cols in gate_described
        for col, typ in cols
        if typ.upper() in ("DOUBLE", "FLOAT", "REAL")
        and (name, col) not in AUDITED_DOUBLE_COLUMNS
    ]
    assert not unaudited, (
        f"gated DOUBLE columns without a bit-stability audit: {unaudited}"
    )
    # and the whitelist must not go stale: every entry still exists
    live = {
        (name, col)
        for name, cols in gate_described
        for col, typ in cols
    }
    stale = [k for k in AUDITED_DOUBLE_COLUMNS if k not in live]
    assert not stale, f"audit entries for columns no longer in the gate: {stale}"


def test_r3_failures_are_integer_now():
    """The two r3 driver-red rows must emit integers where they emitted
    multi-term doubles / HUGEINTs. These queries rotate in and out of the
    50-slot driver gate, so DESCRIBE them from the full registry — the
    integer-units policy is about the queries, not their gate position."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.entry_queries import (
        REGISTRY,
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    cols = {}
    for name in ("kg_question_retrieval", "q5_join_breadth",
                 "kg_link_score_blend", "embed_link_score",
                 "j6_eval_accuracy"):
        sql = REGISTRY[name][1]
        if "read_parquet" in sql and "/current/" in sql:
            from knowledge_graph_integration_rag_biomedical_qna_spark.oracle import (
                materialize as M,
            )
            M.materialize(SF_DIR, name)
            tag = os.path.basename(os.path.normpath(SF_DIR))
            sql = sql.replace(f"/current/{M.GATE_SF_TAG}/", f"/current/{tag}/")
        cols[name] = [(c[0], c[1]) for c in con.execute(f"DESCRIBE {sql}").fetchall()]
    kqr = dict(cols["kg_question_retrieval"])
    assert "rank_score" not in kqr
    assert kqr["rank_score_micro"] == "BIGINT"
    q5 = dict(cols["q5_join_breadth"])
    assert q5["revenue_c"] == "BIGINT"
    blend = dict(cols["kg_link_score_blend"])
    assert blend["score_micro"] == "BIGINT"
    els = dict(cols["embed_link_score"])
    assert els["cos_micro"] == "BIGINT"
    j6 = dict(cols["j6_eval_accuracy"])
    assert j6["accuracy_micro"] == "BIGINT"


def test_materialized_oracles_never_use_pandas_round():
    """Policy 3: the numpy/pandas oracle producers (the engine pair that
    actually failed the driver hash) must quantize via the Decimal
    ROUND_HALF_UP twins — pandas/np ``.round()`` produces a different double
    than Spark's BigDecimal rounding for the same printed decimal."""
    src_path = os.path.join(
        REPO,
        "knowledge_graph_integration_rag_biomedical_qna_spark",
        "oracle",
        "materialize.py",
    )
    import io
    import tokenize

    with open(src_path) as f:
        src = f.read()
    # token-level scan: an attribute-call `.round(` is OP'.' NAME'round'
    # OP'(' — immune to docstrings/comments/strings (the previous line-based
    # docstring stripper desynchronized on mid-line closes and silently
    # skipped the numpy IVF oracle — r4 review finding)
    toks = [
        t for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type in (tokenize.OP, tokenize.NAME)
    ]
    offenders = [
        toks[i + 1].start[0]
        for i in range(len(toks) - 2)
        if toks[i].string == "." and toks[i + 1].string == "round"
        and toks[i + 2].string == "("
    ]
    assert not offenders, (
        f"pandas/np .round() at materialize.py lines {offenders} — use the "
        "Decimal ROUND_HALF_UP twins (_round_half_up6 / Decimal.quantize)"
    )
