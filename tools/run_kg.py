"""spark-submit entry point for the KG-construction job.

Cluster launch (the north-rule deployment shape):

    spark-submit --py-files kg_pkg.zip tools/run_kg.py \
        --transcripts s3://bucket/warehouse/transcripts \
        --aliases s3://bucket/warehouse/concept_aliases \
        --out s3://bucket/warehouse/kg \
        --buckets 256 --group-size 32

Local smoke:

    python tools/run_kg.py --transcripts data/fixtures/transcripts.parquet \
        --aliases data/fixtures/concept_aliases.parquet --out /tmp/kg_out

The job is checkpointed and resumable: rerunning after a crash skips committed
bucket groups (see plans/checkpoint.py). Once all buckets are done it runs
the phase-2 node / edge-stat aggregation and writes the lineage table;
`--no-finalize` skips that step. The printed JSON summary carries the run
record (per-bucket counts, wall time) of every group this call committed.

Package the library for --py-files with:
    (cd /root/repo && zip -qr kg_pkg.zip knowledge_graph_integration_rag_biomedical_qna_spark)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--aliases", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--group-size", type=int, default=8)
    ap.add_argument("--max-groups", type=int, default=None)
    ap.add_argument("--master", default=None, help="default: existing session / local[cpus]")
    ap.add_argument("--no-finalize", dest="finalize", action="store_false")
    args = ap.parse_args()

    from knowledge_graph_integration_rag_biomedical_qna_spark.plans.checkpoint import (
        ResumableKGRun,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.session import get_spark
    from knowledge_graph_integration_rag_biomedical_qna_spark.sources.io import (
        read_aliases,
        read_transcripts,
    )

    spark = get_spark(app_name="kg_construct_run", master=args.master)
    transcripts = read_transcripts(spark, args.transcripts)
    aliases = read_aliases(spark, args.aliases)

    run = ResumableKGRun(spark, args.out, buckets=args.buckets, group_size=args.group_size)
    summary = run.run(transcripts, aliases, max_groups=args.max_groups)
    if summary["complete"] and args.finalize:
        run.finalize()
        summary["finalized"] = True
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
