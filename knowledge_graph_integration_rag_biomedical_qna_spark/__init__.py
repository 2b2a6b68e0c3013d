"""PySpark-native knowledge-graph construction engine.

From-scratch rebuild (NOT a port) of the data-processing capabilities of the
reference biomedical RAG pipeline
(Melodiepo/knowledge-graph-integration-RAG-biomedical-qna, read-only at
/root/reference) as an idiomatic Spark dataflow:

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      -> [1] turn assembly        (stable window ordering per conversation)
      -> [2] mention detection    (vectorized sentence split + dictionary match)
      -> [3] triple extraction    (pattern SVO over sentences; [2]+[3] are one mapInArrow)
      -> [4] candidate generation (lookup in the dictionary shipped with the matcher)
      -> [5] link scoring         (ngram/prior scoring + per-surface top-1 and floor;
                                   [2]-[5] are one mapInArrow, each task linking its own surfaces)
      -> [6] canonicalization     (groupBy cui -> nodes, CUI-resolved edges)
      -> [7] materialization      (parquet tables + lineage, resumable)

Package map:
    core/       pure-Python semantics shared by Spark UDFs AND the pandas oracle
    fixtures/   deterministic (seed=42) synthetic transcripts/concepts/aliases
    oracle/     pandas reference implementation (the P/R >= 0.95 gate)
    sources/    input readers (parquet path or catalog table), synthetic inputs
    operators/  the Spark stages + training-data ops (dedup, ANN, text analysis)
    plans/      end-to-end pipeline composition, checkpoint/resume, lineage
    streaming/  Structured Streaming ingest variant
"""

__version__ = "0.1.0"
