"""`kg query` — the end-user retrieval surface over a constructed KG.

The reference's runtime entry point is "ask a question, get ranked evidence"
(Original_RAG2_Replication/rag2-retriever/main.py:58-228). Against the
constructed graph that is:

    # ranked evidence edges for natural-language questions
    python tools/kg_query.py ask --kg /path/to/kg_out \
        --aliases data/fixtures/concept_aliases.parquet \
        -k 10 "what inhibits cox2?" "does aspirin treat headache?"

    # a long-lived session answering question batches as they arrive: one
    # JSON list of questions per stdin line, its answers tagged "batch"; any
    # other line gets one {"batch": n, "error": ...} line and is skipped
    python tools/kg_query.py serve --kg /path/to/kg_out \
        --aliases data/fixtures/concept_aliases.parquet -k 10 < batches.jsonl

    # subgraph / neighborhood fetch around seed CUIs
    python tools/kg_query.py neighbors --kg /path/to/kg_out \
        --hops 2 -k 25 C0000123 C0000456

`--kg` is the output directory of tools/run_kg.py (contains kg_edge_stats/
kg_nodes parquet). kg_edge_stats is read with its declared schema, so no
command starts a schema-inference job. Results print as JSON lines on stdout,
ranked best-first.

`serve` re-reads the dictionary and the KG for every batch, so a batch
sees a rewrite of either made before it; an unchanged dictionary is not
shipped again (`broadcast_alias_keys` keeps the last one it shipped), so a
batch starts no Spark job for it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def answer(spark, args, questions: list[str]) -> list:
    """Ranked evidence edges for `questions`, over the dictionary and the KG
    as they are on disk now."""
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import (
        broadcast_alias_keys,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import (
        link_questions,
        retrieve_evidence,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import (
        read_aliases,
        read_edge_stats,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.synth import values_df

    edge_stats = read_edge_stats(spark, os.path.join(args.kg, "kg_edge_stats"))
    aliases = read_aliases(spark, args.aliases)
    qs = values_df(spark, list(enumerate(questions)), "question_id int, text string")
    links = link_questions(spark, qs, aliases, broadcast_alias_keys(spark, aliases))
    return retrieve_evidence(links, edge_stats, k=args.k).orderBy("question_id", "rank").collect()


def _questions(line: str) -> list[str]:
    """A serve batch's questions: the line must be a non-empty JSON list of
    strings, else ValueError."""
    batch = json.loads(line)
    if not (isinstance(batch, list) and batch and all(isinstance(q, str) for q in batch)):
        raise ValueError(f"expected a non-empty JSON list of strings, got {type(batch).__name__}")
    return batch


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    asking = argparse.ArgumentParser(add_help=False)
    asking.add_argument("--kg", required=True, help="run_kg.py output dir")
    asking.add_argument("--aliases", required=True, help="concept_aliases parquet")
    asking.add_argument("-k", type=int, default=10)
    asking.add_argument("--master", default=None)
    ask = sub.add_parser("ask", parents=[asking], help="question -> ranked evidence edges")
    ask.add_argument("questions", nargs="+")
    sub.add_parser("serve", parents=[asking],
                   help="stdin lines, one JSON list of questions each -> ranked evidence edges")

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

    if args.cmd == "neighbors":
        from knowledge_graph_integration_rag_biomedical_qna_spark.plans.query import neighborhood
        from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import (
            read_edge_stats,
        )

        edge_stats = read_edge_stats(spark, os.path.join(args.kg, "kg_edge_stats"))
        seeds = values_df(spark, [(c,) for c in args.cuis], "seed_cui string")
        rows = neighborhood(edge_stats, seeds, hops=args.hops, k=args.k).collect()
    elif args.cmd == "ask":
        rows = answer(spark, args, args.questions)
    else:
        for batch, line in enumerate(l for l in sys.stdin if l.strip()):
            try:
                questions = _questions(line)
            except ValueError as e:  # a bad line is reported; the session goes on
                print(json.dumps({"batch": batch, "error": str(e)}))
            else:
                for r in answer(spark, args, questions):
                    print(json.dumps({"batch": batch, **r.asDict()}, default=str))
            sys.stdout.flush()
        return 0

    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
