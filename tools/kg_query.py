"""`kg query` — the end-user retrieval surface over a constructed KG.

The reference's runtime entry point is "ask a question, get ranked evidence"
(Original_RAG2_Replication/rag2-retriever/main.py:58-228). Against the
constructed graph that is:

    # ranked evidence edges for natural-language questions
    python tools/kg_query.py ask --kg /path/to/kg_out \
        --aliases data/fixtures/concept_aliases.parquet \
        -k 10 "what inhibits cox2?" "does aspirin treat headache?"

    # subgraph / neighborhood fetch around seed CUIs
    python tools/kg_query.py neighbors --kg /path/to/kg_out \
        --hops 2 -k 25 C0000123 C0000456

`--kg` is the output directory of tools/run_kg.py (contains kg_edge_stats/
kg_nodes parquet, or Iceberg tables via --catalog). Results print as JSON
lines on stdout, ranked best-first.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    ask = sub.add_parser("ask", help="question -> ranked evidence edges")
    ask.add_argument("questions", nargs="+")
    ask.add_argument("--kg", required=True, help="run_kg.py output dir")
    ask.add_argument("--aliases", required=True, help="concept_aliases parquet")
    ask.add_argument("-k", type=int, default=10)
    ask.add_argument("--master", default=None)

    nb = sub.add_parser("neighbors", help="seed CUIs -> ranked subgraph edges")
    nb.add_argument("cuis", nargs="+")
    nb.add_argument("--kg", required=True, help="run_kg.py output dir")
    nb.add_argument("--hops", type=int, default=1, choices=(1, 2))
    nb.add_argument("-k", type=int, default=50)
    nb.add_argument("--master", default=None)

    args = ap.parse_args(argv)

    from knowledge_graph_integration_rag_biomedical_qna_spark.session import get_spark
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import values_df

    spark = get_spark(app_name="kg_query", master=args.master)
    edge_stats = spark.read.parquet(os.path.join(args.kg, "kg_edge_stats"))

    if args.cmd == "neighbors":
        from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import neighborhood

        seeds = values_df(spark, [(c,) for c in args.cuis], "seed_cui string")
        rows = neighborhood(edge_stats, seeds, hops=args.hops, k=args.k).collect()
    else:
        from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
            broadcast_alias_keys,
        )
        from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import (
            link_questions,
            retrieve_evidence,
        )
        from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import read_aliases

        aliases = read_aliases(spark, args.aliases)
        questions = values_df(
            spark, list(enumerate(args.questions)), "question_id int, text string"
        )
        keys_bc = broadcast_alias_keys(spark, aliases)
        links = link_questions(spark, questions, aliases, keys_bc)
        rows = (
            retrieve_evidence(links, edge_stats, k=args.k)
            .orderBy("question_id", "rank")
            .collect()
        )

    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
