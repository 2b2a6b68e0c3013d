"""Reference implementations: the pure-pandas P/R >= 0.95 oracle, the
materialized query oracles, the join-based dedup verify and the per-row
extraction kernel specification."""

from .pipeline import oracle_mentions, oracle_nodes, oracle_triples, oracle_turns

__all__ = ["oracle_turns", "oracle_mentions", "oracle_triples", "oracle_nodes"]
