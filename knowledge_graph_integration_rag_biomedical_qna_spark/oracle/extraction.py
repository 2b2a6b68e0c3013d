"""Per-row specification of the extraction kernel.

`core.vectorized.extract_unified_batches` runs every row through the
vectorized kernel; `_extract_slow` computes the same table one sentence at
a time with `core.text.split_sentences` and
`core.patterns.extract_mentions_and_triples`. The property tests hold the
kernel equal to it row for row.
"""

from __future__ import annotations

import numpy as np

from ..core.patterns import AliasIndex, extract_mentions_and_triples
from ..core.text import split_sentences
from ..core.vectorized import _unified_pa_schema


def _extract_slow(conv, turn, texts, idx: AliasIndex):
    """(conv, turn, texts) Arrow arrays -> one unified RecordBatch (or None
    when there is nothing to emit): per sentence, mention rows (kind='m')
    then triple rows (kind='t'); columns a kind does not use carry
    -1 / NaN / null."""
    import pyarrow as pa

    rows = []
    for conv_id, turn_idx, text in zip(conv.to_pylist(), turn.to_pylist(), texts.to_pylist()):
        for si, sent in enumerate(split_sentences(text)):
            mentions, triples = extract_mentions_and_triples(sent, idx)
            for mi, m in enumerate(mentions):
                rows.append((conv_id, turn_idx, si, "m", mi, m.surface, m.alias_key,
                             m.tok_start, m.tok_end, None, None, None, None, None, np.nan))
            for t in triples:
                rows.append((conv_id, turn_idx, si, "t", -1, None, None, -1, -1,
                             t.subj_surface, t.subj_key, t.pred, t.obj_surface, t.obj_key,
                             t.confidence))
    if not rows:
        return None
    schema = _unified_pa_schema()
    return pa.RecordBatch.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(zip(*rows), schema)], schema=schema
    )
