"""Engine configuration constants.

Numeric defaults are carried over from the reference pipeline so the operator
*shapes* keep the same parameters (see SURVEY.md §7.5):

- TOP_K_CANDIDATES = 10   candidates kept per mention
  (reference: rag2-retriever/README.md:16, -k 10 in all experiments)
- LINK_ACCEPT_FLOOR = 0.5 minimum accepted link score
  (reference cosine floor: similarity_pruning/context_pruning.py:13)
- ARROW_BATCH = 1024      Arrow batch unit for every Python boundary
                          (mapInArrow and pandas UDFs alike; the session
                          sends ARROW_BATCH * 32 rows per batch). This is the
                          TRANSFER unit, sized to amortize per-call cost; it
                          bounds rows, not bytes
  (reference search batch: rag2-retriever/main.py:128-131)
- KERNEL_SLICE_BYTES = 256 KiB  bound on the text one extraction kernel call
                          sees: core.vectorized.extract_unified_batches cuts
                          each Arrow batch into row ranges of at most this
                          many text bytes (a longer row is a slice alone), so
                          the kernel's working set (~40x its text) stays
                          bounded whatever the batch holds
  (reference: fixed-size encode batches, rag2-retriever/query_encode.py:51-78)
"""

TOP_K_CANDIDATES = 10
LINK_ACCEPT_FLOOR = 0.5
ARROW_BATCH = 1024
KERNEL_SLICE_BYTES = 1 << 18

# Max tokens in a mention n-gram (dictionary matcher tries longest-first).
MAX_MENTION_TOKENS = 3
# Max token gap between a predicate phrase and its subject/object mention.
MAX_ARG_GAP = 5

# Number of conv_id hash buckets used for checkpointed, resumable materialize.
CHECKPOINT_BUCKETS = 32

# Link score blend: dictionary candidates score = SIM_WEIGHT * string_sim +
# PRIOR_WEIGHT * prior  (reference analog: retrieve->rerank two-stage scoring).
SIM_WEIGHT = 0.7
PRIOR_WEIGHT = 0.3
