"""Synthetic-graph ask probe: what a warm ask costs over a large
`kg_edge_stats`. Needs no download.

    python tools/ask_probe.py [--edges 1000000] [--shape uniform|hub]
                              [--asks 6] [-k 10] [--master local[4]]

Generates the n_conv=200 fixture dictionary (300 CUIs) and 16 questions, each
naming one alias of a distinct CUI. Then writes a synthetic `kg_edge_stats`
as `FILES` parquet files under a temp dir: `spark.range(--edges)` rows whose
subj_cui and obj_cui are drawn by hash from the dictionary's CUIs, with one
of 1,000 hashed predicates, hashed n_evidence (1-50) and avg_confidence
(0.5-1.0), deduplicated to one row per edge as the build writes it. In the
`hub` shape, 80% of the subjects are drawn from the CUIs the questions link
instead, so most edges touch a linked CUI.

The ask is `tools/kg_query.py ask`'s: `link_questions` over the questions
(a `values_df` table), `retrieve_evidence` and an orderBy on
(question_id, rank), collected. Two asks warm the session up, then `--asks`
asks are timed. The graph is read once, before the asks, so no ask infers
its schema.

Prints one JSON object: the graph's edge count and the share of edges that
touch a linked CUI, the warm ask's median and quartile wall time, the Spark
jobs and tasks per job of the last ask, its row count and a digest of its
rows, by which two checkouts' answers compare.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FILES = 8
N_QUESTIONS = 16


def sql_array(values) -> str:
    return "array(" + ", ".join(f"'{v}'" for v in values) + ")"


def write_edge_stats(spark, path: str, n: int, shape: str, cuis: list, hubs: list) -> None:
    """`n` hashed edges over `cuis` (subjects drawn from `hubs` 80% of the
    time in the `hub` shape), one row per (subj_cui, pred, obj_cui)."""
    pick = "element_at({}, CAST(pmod(xxhash64(id, '{}'), {}) AS INT) + 1)"
    subj = pick.format(sql_array(cuis), "s", len(cuis))
    if shape == "hub":
        subj = (f"CASE WHEN pmod(xxhash64(id, 'h'), 10) < 8 "
                f"THEN {pick.format(sql_array(hubs), 's', len(hubs))} ELSE {subj} END")
    spark.range(0, n, 1, FILES).selectExpr(
        f"{subj} AS subj_cui",
        "concat('rel_', pmod(xxhash64(id, 'p'), 1000)) AS pred",
        f"{pick.format(sql_array(cuis), 'o', len(cuis))} AS obj_cui",
        "1 + pmod(xxhash64(id, 'n'), 50) AS n_evidence",
        "round(0.5 + pmod(xxhash64(id, 'c'), 500000) / 1e6, 6) AS avg_confidence",
    ).groupBy("subj_cui", "pred", "obj_cui").agg(
        F.expr("max(n_evidence) AS n_evidence"),
        F.expr("max(avg_confidence) AS avg_confidence"),
        F.expr("max(n_evidence) AS n_convs"),
    ).coalesce(FILES).write.parquet(path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--edges", type=int, default=1_000_000)
    ap.add_argument("--shape", choices=("uniform", "hub"), default="uniform")
    ap.add_argument("--asks", type=int, default=6)
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    from knowledge_graph_integration_rag_biomedical_qna_spark.fixtures.gen import generate_all
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        broadcast_alias_keys,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import (
        link_questions,
        retrieve_evidence,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.session import get_spark
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import read_aliases
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import values_df

    work = tempfile.mkdtemp(prefix="ask_probe-")
    try:
        fx = generate_all(os.path.join(work, "fixture"), n_conv=200)["concept_aliases"]
        named = fx.sort_values("alias_key").drop_duplicates("cui").head(N_QUESTIONS)
        spark = get_spark(app_name="ask_probe", master=args.master)
        sc = spark.sparkContext
        aliases = read_aliases(spark, os.path.join(work, "fixture", "concept_aliases.parquet"))
        keys = broadcast_alias_keys(spark, aliases)
        questions = values_df(
            spark, [(i, f"what does {a} treat?") for i, a in enumerate(named["alias"])],
            "question_id int, text string")
        links = link_questions(spark, questions, aliases, keys).collect()
        linked = sorted({r["cui"] for r in links})

        path = os.path.join(work, "kg_edge_stats")
        t0 = time.perf_counter()
        write_edge_stats(spark, path, args.edges, args.shape, sorted(fx["cui"].unique()), linked)
        out = {"edges_drawn": args.edges, "shape": args.shape, "k": args.k,
               "master": args.master, "write_s": round(time.perf_counter() - t0, 2)}
        edge_stats = spark.read.parquet(path)
        out["edges"] = edge_stats.count()
        out["linked_edge_frac"] = round(edge_stats.where(
            f"array_contains({sql_array(linked)}, subj_cui) OR "
            f"array_contains({sql_array(linked)}, obj_cui)").count() / out["edges"], 3)

        def ask() -> list:
            links = link_questions(spark, questions, aliases, keys)
            return retrieve_evidence(links, edge_stats, k=args.k).orderBy(
                "question_id", "rank").collect()

        for _ in range(2):
            ask()
        walls = []
        for i in range(args.asks):
            sc.setJobGroup(f"ask-{i}", f"ask-{i}")
            t0 = time.perf_counter()
            rows = ask()
            walls.append(time.perf_counter() - t0)
        sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        jobs = sorted(st.getJobIdsForGroup(f"ask-{args.asks - 1}"))
        q1, med, q3 = (statistics.quantiles(walls, n=4) if len(walls) > 1 else walls * 3)
        out["ask_s"] = {"median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3),
                        "runs": [round(w, 3) for w in walls]}
        out["jobs"] = len(jobs)
        out["tasks"] = [sum(st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds)
                        for j in jobs]
        out["rows"] = len(rows)
        out["digest"] = hashlib.sha256(
            json.dumps([list(r) for r in rows]).encode()).hexdigest()[:16]
        print(json.dumps(out))
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
