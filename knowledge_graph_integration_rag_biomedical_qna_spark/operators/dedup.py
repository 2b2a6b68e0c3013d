"""Deduplication operators for large-scale training-data pipelines.

All of these are first-class engine components (per the build brief): exact
hash dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard, and embedding-cosine
near-dup. Design notes for 100 TB:

- exact dedup: one groupBy on md5(text) — the only full shuffle; payload is a
  counter + min(doc_id), so map-side combine absorbs duplicates early.
- MinHash+LSH: signatures are computed per row (no shuffle), the band join
  groups only rows sharing a band key — candidate pairs, never the full cross
  product. Hash functions are md5-based so any SQL engine reproduces them
  bit-for-bit (the correctness oracle runs the same formula in DuckDB).
- pair verification: exact Jaccard on shingle sets of candidate pairs only.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# --- hot-key cap warnings ----------------------------------------------------

# (Observation, operator name, message) per capped plan whose first action
# flush_hot_warnings has not read yet; bounded so plans that are built and
# never run cannot accumulate (the oldest entry is dropped). deque
# append/popleft are atomic, so concurrent plan builders and flushers need
# no lock.
_PENDING_OBS: deque = deque(maxlen=64)


def _obs_ready(obs) -> bool:
    """Non-blocking probe: has the observed DataFrame finished its first
    action? Asks the classic JVM handle whether its result future has
    completed; the public python `get` blocks until the action runs, and
    the JVM `getRowOrEmpty` waits up to 100 ms per call.
    tests/test_training_ops pins the handle on the installed Spark, so an
    upgrade that removes it fails loudly."""
    return obs._jo.future().isCompleted()


def _distinct_counting_hot(marked: DataFrame, label: str, message: str) -> DataFrame:
    """Distinct pairs of `marked`, plus a hot-key cap warning. `marked` holds
    the pair rows (`_hot` null) and marker rows (pair columns null, `_hot`
    a count of capped rows). The sum of `_hot` is counted by an Observation
    riding the caller's OWN first action (plan builders stay lazy, no extra
    job) and queued for `flush_hot_warnings()`, which warns
    `"<label>: " + message.format(n=<sum>)` when it is non-zero.

    The markers carry the count through the final aggregate, so the
    Observation sits on top of the operator's plan. Below the final shuffle
    it would be lost whenever that shuffle comes out empty (no pairs, e.g.
    an all-hot corpus): AQE then replaces the plan, observed node included,
    with an empty relation."""
    import uuid

    cols = [c for c in marked.columns if c != "_hot"]
    out = marked.groupBy(*cols).agg(F.sum("_hot").alias("_hot"))
    obs = Observation(f"{label}_{uuid.uuid4().hex[:8]}")
    out = out.observe(obs, F.sum("_hot").alias("n_hot_rows"))
    _PENDING_OBS.append((obs, label, message))
    return out.filter(F.col(cols[0]).isNotNull()).drop("_hot")


def flush_hot_warnings() -> None:
    """Warn, in the calling thread, for every queued capped plan whose first
    action has finished; plans not yet run stay queued. Spark completes an
    Observation from its listener bus, just after the observed action
    returns, so the flush first lets the bus deliver the events already
    posted (LiveListenerBus.waitUntilEmpty: returns at once on an idle bus,
    measured 0.1 ms median and 14 ms max right after an action, and raises
    past its 10 s bound). Without that, 3 of 150 observations read right
    after their action were not complete yet.

    A finished Observation can hold an empty row: when a stage the caller
    put above the operator comes out empty, AQE replaces the plan, observed
    node included, with an empty relation. The count is then unknown, and
    that is warned instead of a count."""
    import warnings

    from pyspark import SparkContext

    if not _PENDING_OBS:
        return
    SparkContext._active_spark_context._jsc.sc().listenerBus().waitUntilEmpty()
    for _ in range(len(_PENDING_OBS)):
        try:
            obs, label, message = entry = _PENDING_OBS.popleft()
        except IndexError:  # drained by a concurrent flush
            return
        if not _obs_ready(obs):
            _PENDING_OBS.append(entry)
        elif obs._jo.getRow().length() == 0:
            warnings.warn(
                f"{label}: hot-key cap count unavailable (the observed plan "
                "was pruned by AQE after a later stage came out empty)"
            )
        elif n := obs.get["n_hot_rows"]:
            warnings.warn(f"{label}: " + message.format(n=n))


# --- exact -----------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One representative (min id) per distinct text + duplicate count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# --- shingles / minhash ------------------------------------------------------

def with_shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) exploded word n-grams of the lowercased text.

    Shingle = space-joined n consecutive tokens; texts shorter than n tokens
    yield their full token string as the single shingle.

    r7 kernel: overlapping n-grams come from ONE regexp_extract_all pass over
    the whitespace-normalized string — a zero-width token-start anchor
    ((?<=^)|(?<= )) plus a capturing lookahead — instead of the interpreted
    transform(slice+array_join) higher-order chain (one array alloc + string
    join per shingle per row; measured 1.60 -> 0.35 s for the shingle table
    at sf1.0/local[32], value-identical on every testdata scale and on
    adversarial edge/empty/multibyte-token strings). Equivalence notes:
    collapsing separator runs to single spaces == split-then-join; token
    count = space count + 1 (split keeps empty edge fields, and runs are
    already collapsed so interior empties cannot occur); [^ ]* in the
    lookahead matches the empty edge tokens exactly like the old slice."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"[ \t\n\x0b\f\r]+", " ")
    d = docs.select(F.col(id_col).alias("id"), norm.alias("_n"))
    n_toks = F.length("_n") - F.length(F.regexp_replace("_n", " ", "")) + F.lit(1)
    gram = " ".join(["[^ ]*"] * n)
    pat = f"(?:(?<=^)|(?<= ))(?=({gram}))"
    arr = F.when(n_toks < n, F.array("_n")).otherwise(
        F.regexp_extract_all("_n", F.lit(pat), F.lit(1))
    )
    return d.select("id", F.explode(F.array_distinct(arr)).alias("shingle"))


def minhash_hash_expr(i: int, col=None):
    """Hash i of the md5-derived family: 8 hex chars (32 bits) carved from
    md5('<i//4>:' || shingle) at offset 8*(i%4). Four hashes share one md5
    (whole-stage codegen CSEs the md5 across the four substrings), so a
    16-hash signature costs 4 md5 evaluations per shingle, not 16. Hex
    substrings compare lexicographically == numerically, which is all minhash
    needs. Engine-portable: the DuckDB oracle computes the identical value."""
    col = F.col("shingle") if col is None else col
    return F.substring(F.md5(F.concat(F.lit(f"{i // 4}:"), col)), 1 + 8 * (i % 4), 8)


def minhash_hash_expr_fast(i: int, col=None):
    """Hash i of the xxhash64 family: one 64-bit JVM hash per (seed-string,
    shingle) — ~an order of magnitude cheaper than md5 and the PRODUCTION
    default. Not reproducible outside Spark (the md5 family above remains the
    DuckDB-oracle twin)."""
    col = F.col("shingle") if col is None else col
    return F.xxhash64(F.lit(f"{i}:"), col)


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16, family: str = "md5") -> DataFrame:
    """(id, h0..h{m-1}) — hash i = min over shingles of the chosen family
    ('md5' = oracle-reproducible hex, 'xxhash64' = fast production bigint)."""
    expr = minhash_hash_expr if family == "md5" else minhash_hash_expr_fast
    aggs = [F.min(expr(i)).alias(f"h{i}") for i in range(num_hashes)]
    return shingles.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature, bucket-join, emit candidate (id_a < id_b) pairs.

    `max_bucket` is the hot-bucket cap: a degenerate corpus (millions of
    identical boilerplate docs -> one band key) makes the bucket self-join
    quadratic in the bucket size. With a cap, buckets larger than
    `max_bucket` are excluded from the pairwise join and instead contribute
    only FULL-SIGNATURE-identical pairs (grouped to one representative:
    (min_id, other) per signature group — linear in bucket size, and
    identical signatures are near-certain duplicates anyway, which is what
    degenerate buckets are made of). The banded rows in capped buckets are
    counted by an Observation on the caller's own action (no extra job) and
    warned by `flush_hot_warnings()`. Cap default is None so the
    plan stays single-pass; production callers at web scale should set it
    (minhash_dedup forwards its own `max_bucket`)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("|", *cols).alias("key"))
        )
    banded = signatures.select(
        "id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        from pyspark.sql import Window

        bsz = F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
        banded = banded.withColumn("bsz", bsz)
        # per hot doc: its banded rows in capped buckets (the warned count)
        hot_ids = (
            banded.filter(F.col("bsz") > max_bucket)
            .groupBy("id").agg(F.count(F.lit(1)).alias("_hot"))
        )
        sig_key = F.concat_ws("|", *[F.col(f"h{i}") for i in range(num_hashes)])
        # linear rep-join, never a per-group array: groups in a degenerate
        # bucket can hold millions of ids
        hot_sigs = (
            hot_ids.join(signatures, "id")
            .select("id", sig_key.alias("sk"))
        )
        reps = hot_sigs.groupBy("sk").agg(F.min("id").alias("id_a"))
        capped_pairs = (
            hot_sigs.join(reps, "sk")
            .filter(F.col("id") > F.col("id_a"))
            .select("id_a", F.col("id").alias("id_b"))
        )
        banded = banded.filter(F.col("bsz") <= max_bucket).drop("bsz")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if max_bucket is None:
        return pairs.distinct()
    return _distinct_counting_hot(
        pairs.unionByName(capped_pairs)
        .unionByName(hot_ids.select("_hot"), allowMissingColumns=True),
        "lsh_candidate_pairs",
        "{n} banded row(s) in buckets over "
        f"max_bucket={max_bucket} excluded from the pairwise join; capped "
        "buckets contribute identical-signature pairs only",
    )


def inverted_index_candidates(
    shingles: DataFrame,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact candidate pairs via the inverted-index self-join: (id_a < id_b)
    iff the docs share at least one (kept) shingle.

    `max_shingle_df` caps a shingle's document frequency before the join: a
    globally hot shingle (boilerplate n-gram present in millions of docs)
    makes the self-join quadratic in its df. Hot shingles are dropped FROM
    CANDIDATE GENERATION ONLY (verification still scores the full shingle
    sets), with a logged drop line. Recall caveat: a pair sharing ONLY
    capped shingles is missed — at a Jaccard threshold t, such a pair has
    all its common shingles in the hot set, which boilerplate-heavy corpora
    should handle with exact-dedup first (same design note as the LSH
    hot-bucket cap)."""
    if max_shingle_df is None:
        # uncapped: plain posting-list self-join on the 8-byte shingle hash
        # (a 64-bit collision can only ADD a candidate pair, which exact
        # Jaccard verification then rejects)
        a = shingles.select(F.col("id").alias("id_a"), F.xxhash64("shingle").alias("sh_k"))
        b = shingles.select(F.col("id").alias("id_b"), F.xxhash64("shingle").alias("sh_k"))
        return (
            a.join(b, "sh_k")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    # capped: ONE posting-table shuffle. The df count runs as a window over
    # the shingle partitioning (sort-based, SPILLABLE — a degenerate
    # 100M-doc shingle streams through it; a plain collect_list-with-count
    # aggregate would have to materialize that group's full id array just
    # to discover it is over the cap). The groupBy reuses the window's
    # hashpartitioning(shingle), so no second exchange, and collects only
    # the ids of KEPT shingles (each ≤ max_shingle_df by construction) into
    # sorted arrays for map-side pair emission. A hot shingle emits one
    # marker row carrying its df instead of pairs.
    from pyspark.sql import Window

    kept = F.col("_df") <= max_shingle_df
    posts = (
        shingles.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .groupBy("shingle")
        .agg(
            F.max("_df").alias("_df"),
            F.sort_array(F.collect_list(F.when(kept, F.col("id")))).alias("ids"),
        )
    )
    no_id = F.lit(None).cast(shingles.schema["id"].dataType)
    no_hot = F.lit(None).cast("long")
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b"), no_hot.alias("_hot")),
            ),
        )
    )
    marker = F.array(F.struct(no_id.alias("id_a"), no_id.alias("id_b"), F.col("_df").alias("_hot")))
    return _distinct_counting_hot(
        posts.select(F.explode(F.when(kept, pairs).otherwise(marker)).alias("p")).select("p.*"),
        "inverted_index_candidates",
        "{n} posting row(s) of shingles over "
        f"max_shingle_df={max_shingle_df} dropped from candidate "
        "generation (verification still uses full shingle sets)",
    )


def array_jaccard_verify(
    pairs: DataFrame,
    doc_stats: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs against per-doc shingle-hash
    ARRAYS: `doc_stats` is (id, n, hs) where hs = collect_list of
    xxhash64(shingle) over the doc's (already distinct) shingles and n the
    exact shingle count. n_inter = size(array_intersect(hs_a, hs_b)) — no
    join against the shingle table, so verification adds ZERO shingle-sized
    shuffles (the r7 shape; `jaccard_verify` below remains the join-based
    twin for callers without a stats aggregate). Same 64-bit-collision
    tolerance as the hashed-key join it replaces. Pairs sharing no shingle
    are dropped at any threshold, as the join form never forms them."""
    va = doc_stats.select(
        F.col("id").alias("id_a"), F.col("n").alias("n_a"), F.col("hs").alias("hs_a")
    )
    vb = doc_stats.select(
        F.col("id").alias("id_b"), F.col("n").alias("n_b"), F.col("hs").alias("hs_b")
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint"))
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter((F.col("n_inter") > 0) & (F.col("jaccard") >= threshold))
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_verify(
    pairs: DataFrame,
    shingles: DataFrame,
    threshold: float = 0.7,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs; keep pairs >= threshold.

    Pass `sizes` (id, n) if the caller already aggregated per-doc shingle
    counts (minhash_dedup folds them into the signature groupBy) — it saves a
    full shuffle over the shingle table.

    The intersection join keys on xxhash64(shingle), not the shingle string:
    the two shingle-sized shuffles then carry 8-byte keys instead of ~24-char
    strings, and the intersection COUNT — all the join contributes — is
    unchanged unless two distinct shingles of the same doc pair collide in
    64 bits (~(n_a*n_b)/2^64 per pair — vanishing, and the exact-Jaccard
    DuckDB oracles stay valid without modification)."""
    key = F.xxhash64("shingle")
    sa = shingles.select(F.col("id").alias("id_a"), key.alias("sh_k"))
    sb = shingles.select(F.col("id").alias("id_b"), key.alias("sh_k"))
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "sh_k"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    if sizes is None:
        sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: str = "md5",
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: verified duplicate pairs.

    family='xxhash64' is the production kernel (fast JVM hash); 'md5' is the
    engine-portable flavor the DuckDB oracle reproduces bit-for-bit. Precision
    is identical either way (exact Jaccard verification); candidate recall is
    the banded-LSH probability 1-(1-j^r)^b for each family's random draw.

    Shuffle budget: the signature groupBy also carries the per-doc shingle
    COUNT, so exactly two shingle-sized shuffles run (signatures,
    intersection). (A per-row array_min(transform(...)) formulation avoids
    the first shuffle entirely but measured 2x SLOWER: higher-order array
    functions are interpreted, not whole-stage-codegen'd, and the md5 CSE
    across substrings is lost across lambda boundaries.) The shingle table is
    recomputed from the scan rather than persisted — the right trade at
    100 TB (shingles are ~n_gram x input).

    The xxhash64 family additionally collapses each shingle STRING to one
    int64 (xxhash64) before everything downstream: the two shingle-sized
    shuffles then carry 8-byte keys instead of ~24-char strings (r3 verdict
    item 5 — the remaining md5-vs-fast gap was shuffle-bound). Verification
    counts intersections of hashed shingles; a cross-doc 64-bit collision
    would inflate n_inter with probability ~(n_a*n_b)/2^64 per pair —
    vanishing, and the md5-string family remains the engine-portable exact
    twin.

    RECALL PROFILE (r4 advice): the two families draw DIFFERENT minhash
    permutations, so their band keys — and hence their LSH candidate sets —
    are different random draws with the same expected recall curve
    (P[candidate] = 1-(1-s^r)^b). Identical docs collide in every band under
    both families; a BORDERLINE near-dup pair sitting near the banding
    threshold can be caught by one family and missed by the other (in either
    direction), and the exact-Jaccard verification step can only reject
    candidates, never recover banding misses. Family choice therefore changes
    which borderline pairs surface, not the quality guarantee —
    tests/test_training_ops.py::test_minhash_family_recall_profile_near_dups
    pins both families' behavior against the exact all-pairs oracle on a
    near-dup (not identical-dup) corpus.

    VERIFY SHAPE (r7): the signature groupBy additionally carries each doc's
    8-byte shingle-hash SET (collect_list of xxhash64(shingle) — per-doc
    distinct by construction), and candidate pairs are verified by
    size(array_intersect(hs_a, hs_b)) against that one aggregate. The
    previous shape re-derived the shingle table twice more (sa/sb sides of a
    hash self-join) and shuffled it twice more; measured at sf1.0/local[32],
    verification was ~60% of the query wall. Now the shingle table is
    computed ONCE and shuffled ONCE (the signature exchange, reused by both
    the banding and the verify joins), and verification is two joins of the
    pair table against the per-doc arrays. n_inter semantics: identical up
    to in-doc 64-bit hash collisions (probability ~n_doc_shingles^2/2^64 —
    vanishing; cross-doc collisions were already the documented tolerance of
    the hashed-key join, and the exact-Jaccard oracles pass unchanged)."""
    sh = with_shingles(docs, n=n, text_col=text_col, id_col=id_col)
    if family == "xxhash64":
        sh = sh.withColumn("shingle", F.xxhash64("shingle"))
    expr = minhash_hash_expr if family == "md5" else minhash_hash_expr_fast
    agg = sh.groupBy("id").agg(
        *[F.min(expr(i)).alias(f"h{i}") for i in range(num_hashes)],
        F.count(F.lit(1)).alias("n"),
        F.collect_list(F.xxhash64("shingle")).alias("hs"),
    )
    # no-op filter (hs is never null): BLOCKS column pruning on the banding
    # branch so its aggregate stays bit-identical to the verify branches' —
    # all four consumers then read ONE reused exchange at runtime instead of
    # Catalyst splitting off a pruned (hs-less) twin aggregate that re-scans
    # and re-shingles the corpus (measured ~0.4 s at sf1.0/local[32])
    cand = lsh_candidate_pairs(
        agg.filter(F.size("hs") >= 0), num_hashes=num_hashes, bands=bands,
        max_bucket=max_bucket,
    )
    return array_jaccard_verify(cand, agg.select("id", "n", "hs"), threshold=threshold)


# --- simhash -----------------------------------------------------------------

def simhash(docs: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash bigint): per token, hash to `bits` bits (crc32 of token),
    sum +1/-1 votes per bit position, sign -> bit. Pure column expressions
    (explode + groupBy) — no Python. Near-dups then cluster by hamming bands.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"[ \t\n\x0b\f\r]+")).alias("tok"),
    ).withColumn("th", F.crc32(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    sim = F.lit(0).cast("bigint")
    for i in range(bits):
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return agg.select("id", sim.alias("simhash"))


def simhash_near_dups(
    sim: DataFrame,
    band_bits: int = 16,
    bands: int = 4,
    bits: int = 32,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via ROTATED banding: band i buckets on
    `band_bits` bits of the hash rotated by i*bits/bands. Every bit lies
    OUTSIDE at least `bands - band_bits*bands/bits` bands, so any pair at
    hamming distance 1 is guaranteed a shared bucket (with the defaults each
    bit is outside 2 of the 4 bands); larger distances are caught
    probabilistically by the remaining bands. This replaces the single
    high-prefix bucket, which silently missed pairs differing only inside the
    prefix. Returns distinct (id_a < id_b) pairs with full-hash hamming."""
    rot = bits // bands
    mask = (1 << band_bits) - 1
    h = F.col("simhash")
    band_structs = []
    for i in range(bands):
        s = i * rot
        # rotate-right by s over `bits` bits, then keep the low band_bits
        rotated = (
            F.shiftright(h, s).bitwiseOR(F.shiftleft(h, bits - s))
            .bitwiseAND(F.lit((1 << bits) - 1))
            if s
            else h
        )
        band_structs.append(
            F.struct(F.lit(i).alias("band"), rotated.bitwiseAND(F.lit(mask)).alias("key"))
        )
    banded = sim.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("bk")
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        # hot-bucket cap, same scheme as lsh_candidate_pairs: oversized
        # buckets leave the pairwise join and contribute identical-simhash
        # (hamming 0) pairs via a linear rep-join
        from pyspark.sql import Window

        banded = banded.withColumn(
            "bsz", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
        )
        # per hot doc: its banded rows in capped buckets (the warned count)
        hot_ids = (
            banded.filter(F.col("bsz") > max_bucket)
            .groupBy("id", "simhash").agg(F.count(F.lit(1)).alias("_hot"))
        )
        reps = hot_ids.groupBy("simhash").agg(F.min("id").alias("id_a"))
        capped_pairs = (
            hot_ids.join(reps, "simhash")
            .filter(F.col("id") > F.col("id_a"))
            .select("id_a", F.col("id").alias("id_b"), F.lit(0).alias("hamming"))
        )
        banded = banded.filter(F.col("bsz") <= max_bucket).drop("bsz")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
    )
    if max_bucket is None:
        return pairs.distinct()
    return _distinct_counting_hot(
        pairs.unionByName(capped_pairs.select("id_a", "id_b", F.col("hamming").cast("int")))
        .unionByName(hot_ids.select("_hot"), allowMissingColumns=True),
        "simhash_near_dups",
        "{n} banded row(s) in buckets over "
        f"max_bucket={max_bucket} excluded from the pairwise join; capped "
        "buckets contribute identical-simhash pairs only",
    )


# --- embedding near-dup --------------------------------------------------------

def _hyperplane_signs(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic +/-1 hyperplane matrix: sign j,k = parity of
    md5(f"{j}:{k}"). No RNG (reproducible across engines and rounds)."""
    import hashlib

    return [
        [1.0 if hashlib.md5(f"{j}:{k}".encode()).digest()[0] % 2 == 0 else -1.0
         for k in range(dim)]
        for j in range(num_planes)
    ]


def _sign_lsh_sig_udf(num_planes: int, dim: int):
    """Arrow-batched signature: ONE numpy matmul (n x dim) @ (dim x planes)
    per batch instead of `num_planes` interpreted aggregate(zip_with(...))
    expressions (~dim*planes interpreted ops per ROW). Bit j of the
    signature = sign of the dot with deterministic hyperplane j. Products are
    exact (+/-1.0 coefficients) but matmul may SUM in a different order than
    the expression form's left fold, so a dot within rounding error of zero
    could in principle bucket differently — affects candidate recall only
    (verification is exact), and matched bit-for-bit on every tested input."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes_t = np.asarray(_hyperplane_signs(num_planes, dim), dtype=np.float64).T
    weights = np.asarray([1 << j for j in range(num_planes)], dtype=np.int64)

    @pandas_udf("long")
    def sig(v):
        import pandas as pd

        mat = np.array([np.asarray(x, dtype=np.float64) for x in v])
        if mat.size == 0:
            return pd.Series(np.zeros(len(v), dtype=np.int64))
        bits = (mat @ planes_t) > 0
        return pd.Series(bits @ weights)

    return sig


# below this cosine threshold, 8-plane sign-LSH recall degrades enough that
# silent use is wrong: route to brute-force (with a warning) instead
_SIGN_LSH_MIN_THRESHOLD = 0.8


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
) -> DataFrame:
    """Cosine >= threshold pairs. Blocking on `block_col`, or — when None —
    sign-LSH over `num_planes` deterministic +/-1 hyperplanes (2^b buckets)
    with hamming-1 MULTI-PROBE: the left side probes its own bucket plus each
    single-bit flip, so a near-dup pair straddling one hyperplane still
    collides. Expected bucket size n/2^b keeps the verify join sub-quadratic;
    pairs separated by >=2 hyperplanes are the tolerated recall loss.

    Design center: NEAR-DUP thresholds (>= ~0.9, measured recall 0.989 at
    0.95 on a planted 480-vector corpus). At thresholds below
    `_SIGN_LSH_MIN_THRESHOLD` (0.5 = 60 degrees means ~1/3 separation
    probability PER plane) sign-LSH recall collapses, so the un-blocked path
    warns and routes to the brute-force all-pairs join instead (quadratic —
    at scale, callers wanting loose thresholds should pass `block_col`)."""
    # shared vector-math helpers (similarity.py) — a private copy here is how
    # the r4 ANSI divide-by-zero fix missed this call site (r4 review)
    from .similarity import _as_double, _dot, _norm

    v = _as_double(F.col(vec_col))
    norm = _norm(v)
    base = embeddings.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        norm.alias("nrm"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    if block_col:
        a, b = base.alias("a"), base.alias("b")
        joined = a.join(b, "blk")
    elif threshold < _SIGN_LSH_MIN_THRESHOLD:
        import warnings

        warnings.warn(
            f"embedding_near_dups: threshold={threshold} is below the sign-LSH "
            f"design floor {_SIGN_LSH_MIN_THRESHOLD}; routing to brute-force "
            "all-pairs (quadratic) — pass block_col for a scalable loose-"
            "threshold search"
        )
        # crossJoin (partition-pairwise CartesianProduct), NOT a join on a
        # constant key, which would shuffle every row to one partition
        joined = base.alias("a").crossJoin(base.alias("b"))
    else:
        first = embeddings.select(vec_col).first()
        if first is None:  # empty input: no pairs (and no dim to be read)
            return (
                base.select(
                    F.col("id").alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.lit(0.0).alias("cosine"),
                ).limit(0)
            )
        dim = len(first[0])
        if dim >= 256:
            # wide vectors: one Arrow-batched numpy matmul per batch beats
            # num_planes interpreted aggregate(zip_with()) expressions
            # (measured 1.4x at 768-d, value-identical signatures); below
            # ~256-d the Python-worker round-trip costs more than it saves
            base = base.withColumn("sig", _sign_lsh_sig_udf(num_planes, dim)(F.col("v")))
        else:
            planes = _hyperplane_signs(num_planes, dim)
            sig = F.lit(0)
            for j, w in enumerate(planes):
                wcol = F.array(*[F.lit(x) for x in w])
                dot_j = F.aggregate(
                    F.zip_with(F.col("v"), wcol, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                sig = sig + F.when(dot_j > 0, F.lit(1 << j)).otherwise(F.lit(0))
            base = base.withColumn("sig", sig)
        # left side probes its bucket + every hamming-1 neighbor; right side
        # stays in its own bucket -> any pair within hamming 1 collides
        probes = F.array(
            F.col("sig"), *[F.col("sig").bitwiseXOR(F.lit(1 << j)) for j in range(num_planes)]
        )
        a = base.select("id", "v", "nrm", F.explode(probes).alias("blk")).alias("a")
        b = base.withColumnRenamed("sig", "blk").alias("b")
        joined = a.join(b, "blk")
    dot = _dot(F.col("a.v"), F.col("b.v"))
    return (
        joined.filter(F.col("a.id") < F.col("b.id"))
        # try_divide: a zero-norm embedding has undefined cosine — ANSI mode
        # (Spark 4 default) THROWS on a bare `/`; NULL is then dropped by the
        # threshold filter (NULL >= t is NULL -> false)
        .withColumn(
            "cosine",
            F.round(F.try_divide(dot, F.col("a.nrm") * F.col("b.nrm")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
        .distinct()
    )


# --- duplicate-group resolution (connected components) -----------------------

def connected_components(
    pairs: DataFrame,
    max_iters: int = 25,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id, group_id) for every id appearing in `pairs`, where group_id is
    the MIN id of its connected component — the step that turns verified
    near-dup PAIRS into deduplicatable GROUPS (keep one representative per
    group, drop the rest).

    Algorithm: hash-to-min label propagation — each iteration every node
    takes the min of its own label and its neighbors' labels (one join + one
    min-aggregate per iteration, both on the edge table's keys), converging
    in O(graph diameter) iterations; near-dup components are overwhelmingly
    tiny cliques/chains, so 2-4 iterations is typical. Convergence is
    detected distributively (count of label changes); `max_iters` bounds the
    driver loop (a warning is raised if the cap fires before convergence).
    Each iteration's labels are localCheckpoint'ed: iterative DataFrame
    self-joins grow the LOGICAL plan (persist alone does not truncate it),
    and past ~20 nested iterations the analyzer/AQE cost explodes — lineage
    truncation is what keeps iteration k as cheap as iteration 1."""
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("dlabel")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlabel").alias("nmin"))
        )
        new_labels = (
            labels.join(nbr_min.withColumnRenamed("src", "id"), "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # free the previous iteration's checkpoint: without this, up to
        # max_iters full label snapshots pin executor storage until session
        # end (r4 review) — the new snapshot is already materialized (eager)
        try:
            labels.unpersist()
        except Exception:
            pass
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: not converged after max_iters={max_iters} "
            "(component diameter exceeds the cap); labels may be split — "
            "raise max_iters"
        )
    return labels.select(F.col("id"), F.col("label").alias("group_id"))
