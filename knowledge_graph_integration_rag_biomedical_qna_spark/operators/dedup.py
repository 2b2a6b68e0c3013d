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
- embedding near-dup: exact cosine within a blocking column's groups (a
  self-join on the block key), never across them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import unpersist_checkpoint

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


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(id, h0..h{m-1}) — hash i = min over shingles of the md5 family
    (`minhash_hash_expr`, the oracle-reproducible hex)."""
    aggs = [F.min(minhash_hash_expr(i)).alias(f"h{i}") for i in range(num_hashes)]
    return shingles.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Band the signature, bucket-join, emit candidate (id_a < id_b) pairs.

    The bucket self-join is quadratic in a bucket's size, so a degenerate
    corpus (many identical boilerplate docs -> one band key) costs the
    square of its copy count: collapse exact copies first (`exact_dedup`)."""
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
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def inverted_index_candidates(shingles: DataFrame) -> DataFrame:
    """Exact candidate pairs via the inverted-index self-join: (id_a < id_b)
    iff the docs share at least one shingle.

    The join keys on the 8-byte shingle hash: a 64-bit collision can only
    ADD a candidate pair, which exact Jaccard verification then rejects. A
    shingle in d docs emits d^2/2 pairs, so a globally hot boilerplate
    n-gram makes the join quadratic in its document frequency: collapse
    exact copies first (`exact_dedup`)."""
    a = shingles.select(F.col("id").alias("id_a"), F.xxhash64("shingle").alias("sh_k"))
    b = shingles.select(F.col("id").alias("id_b"), F.xxhash64("shingle").alias("sh_k"))
    return (
        a.join(b, "sh_k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
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
    shuffles (the r7 shape; `oracle.dedup.jaccard_verify` is the join-based
    reference the tests compare it against). Same 64-bit-collision
    tolerance as that hashed-key join. Pairs sharing no shingle are
    dropped at any threshold, as the join form never forms them."""
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


def minhash_dedup(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: str = "md5",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: verified duplicate pairs.

    family='xxhash64' is the production kernel (fast JVM hash); 'md5' is the
    engine-portable flavor the DuckDB oracle reproduces bit-for-bit. Precision
    is identical either way (exact Jaccard verification); candidate recall is
    the banded-LSH probability 1-(1-j^r)^b for each family's random draw.

    Shuffle budget: two shingle-sized shuffles, one per aggregate over the
    shingle table (see VERIFY SHAPE). (A per-row array_min(transform(...))
    formulation avoids the signature shuffle but measured 2x SLOWER:
    higher-order array functions are interpreted, not whole-stage-codegen'd,
    and the md5 CSE across substrings is lost across lambda boundaries.)
    The shingle table is recomputed from the scan rather than persisted —
    the right trade at 100 TB (shingles are ~n_gram x input).

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

    VERIFY SHAPE (r7): the per-doc aggregate also carries each doc's 8-byte
    shingle-hash SET (collect_list of xxhash64(shingle) — per-doc distinct
    by construction), and candidate pairs are verified by
    size(array_intersect(hs_a, hs_b)): two joins of the pair table against
    the per-doc arrays. The previous shape re-derived the shingle table
    twice more (sa/sb sides of a hash self-join) and shuffled it twice
    more; measured at sf1.0/local[32], verification was ~60% of the query
    wall. Column pruning splits the aggregate per consumer: the banding
    branch computes (id, h0..h{m-1}) and the verify branch (id, n, hs), so
    the corpus is scanned and shingled twice, once per aggregate (the band
    self-join's two sides share the signature exchange). A no-op filter on
    hs does not merge them: the verify side still prunes to its own twin
    (tests/test_query_plan.py::test_minhash_dedup_plan pins the plan).
    n_inter semantics: identical up to in-doc 64-bit hash collisions
    (probability ~n_doc_shingles^2/2^64 — vanishing; cross-doc collisions
    were already the documented tolerance of the hashed-key join, and the
    exact-Jaccard oracles pass unchanged)."""
    sh = with_shingles(docs, n=n, text_col=text_col, id_col=id_col)
    if family == "xxhash64":
        sh = sh.withColumn("shingle", F.xxhash64("shingle"))
    expr = minhash_hash_expr if family == "md5" else minhash_hash_expr_fast
    agg = sh.groupBy("id").agg(
        *[F.min(expr(i)).alias(f"h{i}") for i in range(num_hashes)],
        F.count(F.lit(1)).alias("n"),
        F.collect_list(F.xxhash64("shingle")).alias("hs"),
    )
    cand = lsh_candidate_pairs(agg, num_hashes=num_hashes, bands=bands)
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
) -> DataFrame:
    """Candidate near-dup pairs via ROTATED banding: band i buckets on
    `band_bits` bits of the hash rotated by i*bits/bands. Every bit lies
    OUTSIDE at least `bands - band_bits*bands/bits` bands, so any pair at
    hamming distance 1 is guaranteed a shared bucket (with the defaults each
    bit is outside 2 of the 4 bands); larger distances are caught
    probabilistically by the remaining bands. This replaces the single
    high-prefix bucket, which silently missed pairs differing only inside the
    prefix. Returns distinct (id_a < id_b) pairs with full-hash hamming.
    As in `lsh_candidate_pairs`, the bucket self-join is quadratic in a
    bucket's size, and identical docs share every bucket: collapse exact
    copies first (`exact_dedup`)."""
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
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )


# --- embedding near-dup --------------------------------------------------------

def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine >= threshold pairs (id_a < id_b) among rows that share a
    `block_col` value. The candidate join is the block self-join, so its
    cost is the sum of the squared block sizes, at any threshold."""
    # shared vector-math helpers (similarity.py) — a private copy here is how
    # the r4 ANSI divide-by-zero fix missed this call site (r4 review)
    from .similarity import _as_double, _dot, _norm

    v = _as_double(F.col(vec_col))
    base = embeddings.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        _norm(v).alias("nrm"),
        F.col(block_col).alias("blk"),
    )
    dot = _dot(F.col("a.v"), F.col("b.v"))
    return (
        base.alias("a").join(base.alias("b"), "blk")
        .filter(F.col("a.id") < F.col("b.id"))
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
    truncation is what keeps iteration k as cheap as iteration 1. Each
    superseded snapshot, and the edge checkpoint after the loop, is freed
    as it goes: the returned labels are the one snapshot left stored."""
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
        # free the superseded snapshot: the new one is already stored
        # (eager), and without this up to max_iters snapshots stay stored
        # until the session ends
        unpersist_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            converged = True
            break
    unpersist_checkpoint(edges)
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: not converged after max_iters={max_iters} "
            "(component diameter exceeds the cap); labels may be split — "
            "raise max_iters"
        )
    return labels.select(F.col("id"), F.col("label").alias("group_id"))
