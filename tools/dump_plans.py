"""Regenerate PLANS.md: formatted physical plans of the core dataflows."""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# PLANS — formatted physical plans of the core dataflows

Generated by `python tools/dump_plans.py` (re-run after plan-affecting
changes). What to look for, per the scale-design goals:

- `Exchange hashpartitioning(conv_id...)` appears ONCE in the kg_edges plan —
  the only data-sized shuffle; `MapInArrow`/extraction inherits it (r3: the
  extraction stage is RecordBatch-in/RecordBatch-out, no pandas conversion).
  With a conv_id-bucketed input (write_bucketed + assume_clustered) even that
  exchange disappears — plan-tested in tests/test_bucketing.py; as of r4 the
  bucketed writer lands exactly one file per bucket.
- `WindowGroupLimit` — Spark's top-k pushdown replaces full window sorts for
  stage [1] dedup and every per-group top-k.
- `BroadcastHashJoin` everywhere a dimension table joins the data path; no
  `SortMergeJoin` touches transcript-sized inputs. Linking joins nothing:
  the extraction `MapInArrow` links both triple endpoints in its pass.
- kg_nodes groups the pass's linked per-task vocabulary rows by cui: one
  map-side-combined (partial_collect_set/partial_sum) vocabulary-sized
  exchange, no join.
- Scans show `PushedFilters` and pruned `ReadSchema`.

"""


def main() -> None:
    from knowledge_graph_integration_rag_biomedical_qna_spark.entry_queries import REGISTRY
    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.pipeline import build_kg
    from knowledge_graph_integration_rag_biomedical_qna_spark.session import get_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    fixtures = os.path.join(repo, "data", "fixtures")
    if not os.path.isdir(fixtures):
        from knowledge_graph_integration_rag_biomedical_qna_spark.fixtures.gen import generate_all

        generate_all(fixtures, n_conv=200)
    tr = spark.read.parquet(f"{fixtures}/transcripts.parquet")
    al = spark.read.parquet(f"{fixtures}/concept_aliases.parquet")
    kg = build_kg(spark, tr, al, persist=False)

    def fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    sf = "/root/testdata/sf0.001"
    sections = [
        ("kg_edges (stages [1]-[5]: window -> one extraction+linking pass -> filter, no join)", kg.kg_edges),
        ("kg_nodes (stage [6]: groupBy(cui) over the pass's linked vocabulary rows)", kg.kg_nodes),
        ("q1_pricing_summary (pushdown + partial aggregation)", REGISTRY["q1_pricing_summary"][0](spark, sf)),
        ("q5_join_breadth (broadcast star join)", REGISTRY["q5_join_breadth"][0](spark, sf)),
        ("ann_cosine_topk (JVM-side vector math + WindowGroupLimit top-k)", REGISTRY["ann_cosine_topk"][0](spark, sf)),
    ]
    out = io.StringIO()
    out.write(HEADER)
    for title, df in sections:
        out.write(f"## {title}\n\n```\n{fmt(df)}\n```\n\n")
    with open(os.path.join(repo, "PLANS.md"), "w") as fh:
        fh.write(out.getvalue())
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
