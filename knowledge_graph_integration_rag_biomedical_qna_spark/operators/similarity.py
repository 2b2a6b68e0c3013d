"""Similarity search over an embedding column (array<float>).

- `cosine_topk`: exact brute-force top-k — the correctness baseline. The query
  side is broadcast; scores are pure column expressions (zip_with + aggregate,
  JVM-side, whole-stage codegen) so the scan side streams without shuffle; the
  only shuffle is the per-query top-k window over (query, candidates) rows.
- `ivf_topk`: the scale path — k-means-lite (deterministic seeded centroids,
  one Lloyd iteration via DataFrame ops), assign each vector to its nearest
  centroid once, then search only `nprobe` nearest centroids per query:
  the candidate set shrinks by ~|centroids|/nprobe.

Reference analog: FAISS IndexFlatIP / IVFPQ retrieval
(rag2-retriever/retrieve.py:11-126) re-expressed as declarative Spark plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


# Above this dimensionality the 'auto' kernel switches from interpreted
# fold expressions to the batched numpy matmul (same crossover as
# operators/dedup.py's sign-LSH signature UDF).
MATMUL_MIN_DIM = 256

# The matmul kernels capture the query side in the task closure, which means
# one driver-side collect of it. The query batch is broadcast-sized by
# contract, but "by contract" is not a guard: above this many collected rows
# (queries for cosine_topk; query x nprobe probes for ivf_topk) the kernel
# routes back to the fold/broadcast path with a warning instead of OOMing
# the driver, found by a limit(cap+1) probe (`_guarded_collect`).
MATMUL_MAX_QUERY_ROWS = 100_000


def _guarded_collect(df: DataFrame, what: str, cap: int | None = None):
    """limit(cap+1).collect() probe: fetches the rows when they fit (the
    common, broadcast-sized case — one job, no separate count), returns None
    with a warning when they overflow so the caller can route to a
    distributed kernel. The driver never holds more than cap+1 rows.
    `cap=None` reads the module constant at call time (monkeypatch-friendly
    for tests that exercise the overflow route without 100k rows)."""
    if cap is None:
        cap = MATMUL_MAX_QUERY_ROWS
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        import warnings

        warnings.warn(
            f"matmul kernel: {what} exceeds {cap} rows; the query-side "
            "closure capture would risk driver OOM — falling back to the "
            "distributed fold/broadcast kernel. Shrink the query batch "
            "(chunk it) to re-enable the matmul path."
        )
        return None
    return rows


def _matmul_topk_rows(
    base: DataFrame,
    q_rows: list,
    k: int,
) -> DataFrame:
    """mapInPandas scorer: ONE numpy matmul (batch x dim) @ (dim x queries)
    per Arrow batch, then a per-batch partial top-k per query — the batch
    emits at most |queries| * k rows, so the global top-k window receives
    n_partitions * |queries| * k rows instead of n_rows * |queries| (partial
    top-k pushdown, same idea as WindowGroupLimit but on the Python side).

    Rounding note: cosines are rounded to 6dp with np.round (half-even on
    the matmul sum), NOT the engine's sequential-fold/Decimal twin — matmul
    sums in BLAS order, so last-ulp agreement with the fold path is already
    off the table; callers that need the engine-reproducible convention
    (the driver's hash gate at 8-d) use the fold kernel."""
    import numpy as np
    import pandas as pd

    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])  # nq x dim
    qnrm = np.sqrt((Q * Q).sum(axis=1))
    # tile the query axis so the per-batch cosine matrix stays bounded
    # (nb x 512 doubles per tile) no matter how large the query batch is —
    # per-query top-k is independent across tiles, so tiling is free
    QUERY_TILE = 512

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            vids = pdf["vec_id"].to_numpy()
            nrm = np.sqrt((V * V).sum(axis=1))
            out_q, out_v, out_c = [], [], []
            for t0 in range(0, len(qids), QUERY_TILE):
                sl = slice(t0, t0 + QUERY_TILE)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.round((V @ Q[sl].T) / np.outer(nrm, qnrm[sl]), 6)
                for j, qid in enumerate(qids[sl]):
                    cj = cos[:, j]
                    # exclude self-matches AND zero-norm 0/0 rows: the fold
                    # kernel's division-by-zero yields NULL (sorted last,
                    # excluded), while a NaN here would rank ABOVE every real
                    # cosine under Spark's DESC ordering
                    mask = (vids != qid) & np.isfinite(cj)
                    idx = np.flatnonzero(mask)
                    if not len(idx):
                        continue
                    # deterministic partial top-k: by (-cosine, vec_id)
                    order = idx[np.lexsort((vids[idx], -cj[idx]))][:k]
                    out_q.extend([qid] * len(order))
                    out_v.extend(vids[order])
                    out_c.extend(cj[order])
            yield pd.DataFrame({"query_id": out_q, "vec_id": out_v, "cosine": out_c})

    return base.select("vec_id", "v").mapInPandas(
        fn, "query_id long, vec_id long, cosine double"
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    kernel: str = "auto",
) -> DataFrame:
    """Exact cosine top-k of `embeddings` for each row of `queries`.

    Output: (query_id, vec_id, cosine, rank) with deterministic tie-break on
    vec_id. Self-matches (query_id == vec_id) are excluded.

    `kernel`: 'fold' = pure column expressions (zip_with + aggregate —
    engine-reproducible sequential sums, the DuckDB-oracle twin; interpreted,
    ~dim ops/row of expression-tree walking, and the crossJoin materializes
    n_rows x n_queries scored rows into the top-k window), 'matmul' =
    Arrow-batched numpy matmul with per-batch partial top-k (one BLAS call
    per batch; the window receives only n_partitions x n_queries x k rows).
    Measured at 20k x 768-d (reference MedCPT dimensionality,
    rag2-retriever/retrieve.py:22), warm, local[32]: 8 queries 2.08 -> 1.45 s,
    64 queries 7.02 -> 5.53 s — a modest local win that grows with the
    query-batch size, because fold's materialized cross product is the term
    that explodes at scale while matmul stays linear in scanned rows.
    'auto' = matmul at >= MATMUL_MIN_DIM dims else fold (same adaptive
    crossover as the sign-LSH signature UDF in operators/dedup.py). NOTE:
    'auto' resolves the dimensionality with one single-row action on the
    QUERY side at plan-construction time (query-sized, not data-sized) —
    plan-only callers and the hash-gated queries pass an explicit kernel.
    The query batch must be broadcast-sized in BOTH kernels (fold broadcasts
    it; matmul captures it in the task closure and tiles the query axis
    internally so per-batch score matrices stay bounded).
    Both kernels return the same top-k sets and 6dp cosines up to last-ulp
    rounding ties (parity-tested at 768-d)."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(query_vec_col)).alias("qv"),
    )
    if kernel == "auto":
        first = q.select(F.size("qv").alias("d")).first()
        kernel = "matmul" if first is not None and first["d"] >= MATMUL_MIN_DIM else "fold"
    oversized_queries = False
    if kernel == "matmul":
        # query side is broadcast-sized by contract (it rides a broadcast
        # join in the fold path); collecting it to the closure is the same
        # data movement without the crossJoin row blow-up. Guarded: above
        # MATMUL_MAX_QUERY_ROWS the collect is refused and the fold kernel
        # takes over.
        q_rows = _guarded_collect(q.select("query_id", "qv"), "query table")
        if q_rows is None:
            kernel = "fold"
            oversized_queries = True
        elif not q_rows:  # empty batch: zero rows, not a numpy AxisError
            spark = embeddings.sparkSession
            return spark.createDataFrame(
                [], "query_id long, vec_id long, cosine double, rank bigint"
            )
        else:
            scored = _matmul_topk_rows(base, q_rows, k)
    if kernel != "matmul":
        base = base.withColumn("nrm", _norm(F.col("v")))
        qn = q.withColumn("qnrm", _norm(F.col("qv")))
        # the broadcast hint is FORCED regardless of size, and Spark builds
        # broadcast tables on the driver — hinting an over-cap query table
        # would reintroduce the very driver materialization the guard
        # refused. Oversized query batches take an unhinted join: this
        # scoring join is non-equi (vec_id != query_id), so the planner
        # falls to an executor-side CartesianProduct — slow, but that IS the
        # honest cost of exact all-pairs scoring at that size, and it never
        # routes through the driver.
        qn_j = qn if oversized_queries else F.broadcast(qn)
        scored = (
            base.join(qn_j, F.col("vec_id") != F.col("query_id"))
            .withColumn(
                # try_divide: a zero-norm vector has undefined cosine — NULL
                # here (ANSI double/0 THROWS, so a bare `/` would fail the
                # job), NaN in the matmul kernel; both kernels exclude it
                "cosine",
                F.round(
                    F.try_divide(_dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qnrm")), 6
                ),
            )
            .filter(F.col("cosine").isNotNull())
        )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def build_ivf_index(
    embeddings: DataFrame,
    n_centroids: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 1,
    train_sample: int | None = 200_000,
    mean_precision: int | None = 6,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic sampled-k-means IVF index (FAISS IVF analog,
    rag2-retriever/retrieve.py:19-59: nlist=4096, train sample <= 200k):

    - seeds: the `n_centroids` vectors ranked first by md5(vec_id) — a
      deterministic uniform draw, NOT the lowest ids (id order often
      correlates with content, which collapses seed diversity). The ranked
      top-k runs over (vec_id, rank) ONLY — the vectors join back by id
      executor-side, so no embedding array ever rides a TakeOrdered through
      the driver (at 768-d x 200k rows that bounce is ~1.2 GB of driver heap,
      the r2 verdict's #1 scale-killer);
    - training sample: a deterministic HASH-THRESHOLD filter
      (md5(vec_id) < cutoff for fraction train_sample/n) — a predicate the
      scan absorbs, not a global sort. The cap is approximate (binomial
      ~±0.5% at 200k), which is all a memory bound needs;
    - `lloyd_iters` Lloyd refinements; the element-wise centroid means are
      ROUNDED to `mean_precision` decimals (default 6), which makes the
      centroids — and hence assignments, probes, and the whole index —
      independent of partition order (float avg() is order-sensitive in the
      last ulp; rounding quantizes that away), so an independent engine can
      reproduce the index bit-for-bit;
    - final assignment of EVERY vector to its nearest centroid (one broadcast
      of the centroid table, no shuffle of the corpus).
    - `n_centroids=None` sizes the list count as ~sqrt(n) (FAISS guidance),
      floor 16 (costs one count()).

    assignments: (vec_id, v array<double>, nrm, centroid_id)
    centroids:   (centroid_id, c array<double>)
    """
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    if n_centroids is None:
        import math

        n_centroids = max(16, int(math.sqrt(base.count())))
    rank_key = F.md5(F.col("vec_id").cast("string"))
    seed_ids = (
        base.select("vec_id").withColumn("_r", rank_key)
        .orderBy("_r", "vec_id")
        .limit(n_centroids)
        .withColumn("centroid_id", F.row_number().over(Window.orderBy("_r", "vec_id")) - 1)
        .drop("_r")
    )
    seeds = (
        base.join(F.broadcast(seed_ids), "vec_id")
        .select("centroid_id", F.col("v").alias("c"))
    )
    train = base
    if train_sample is not None:
        n = base.count()
        if n > train_sample:
            # 32-hex-char cutoff: md5 hex compares lexicographically ==
            # numerically, so this is a pure pushed-down predicate
            cutoff = format(((1 << 128) * train_sample) // n, "032x")
            train = base.filter(rank_key < F.lit(cutoff))

    def assign(df: DataFrame, cents: DataFrame) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).withColumn(
            "d2",
            F.aggregate(
                F.zip_with(F.col("v"), F.col("c"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("centroid_id").asc())
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("vec_id", "v", "centroid_id")
        )

    cents = seeds
    for _ in range(max(lloyd_iters, 0)):
        a = assign(train, cents)
        # Lloyd step: element-wise mean per centroid (posexplode + groupBy);
        # empty centroids keep their previous position (left join + coalesce)
        dims = a.select("centroid_id", F.posexplode("v").alias("pos", "x"))
        mean_expr = F.avg("x")
        if mean_precision is not None:
            mean_expr = F.round(mean_expr, mean_precision)
        means = (
            dims.groupBy("centroid_id", "pos").agg(mean_expr.alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("centroid_id", F.transform("pm", lambda s: s["m"]).alias("new_c"))
        )
        cents = (
            cents.join(means, "centroid_id", "left")
            .select("centroid_id", F.coalesce("new_c", "c").alias("c"))
        )
    a_final = assign(base, cents).withColumn("nrm", _norm(F.col("v")))
    return a_final, cents


def _ivf_matmul_topk_rows(assignments: DataFrame, probe_rows: list, k: int) -> DataFrame:
    """mapInPandas IVF scorer: group each Arrow batch by centroid_id, one
    numpy matmul per (batch, probed-centroid) group against that centroid's
    probing queries, then per-batch partial top-k per query. Same rounding
    caveat as _matmul_topk_rows (np.round on BLAS-order sums — not the
    fold/Decimal twin; the 8-d gate query stays on the fold kernel)."""
    import numpy as np
    import pandas as pd

    by_cent: dict = {}
    for r in probe_rows:  # (query_id, qv, centroid_id)
        by_cent.setdefault(r["centroid_id"], []).append((r["query_id"], r["qv"]))
    cent_q = {}
    for cid, rows in by_cent.items():
        qids = np.array([q for q, _ in rows], dtype=np.int64)
        Q = np.array([np.asarray(v, dtype=np.float64) for _, v in rows])
        cent_q[cid] = (qids, Q, np.sqrt((Q * Q).sum(axis=1)))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            acc: dict = {}  # query_id -> (cos list, vid list)
            for cid, g in pdf.groupby("centroid_id"):
                hit = cent_q.get(cid)
                if hit is None:
                    continue
                qids, Q, qnrm = hit
                V = np.array([np.asarray(v, dtype=np.float64) for v in g["v"]])
                vids = g["vec_id"].to_numpy()
                nrm = np.sqrt((V * V).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.round((V @ Q.T) / np.outer(nrm, qnrm), 6)
                for j, qid in enumerate(qids):
                    # self-match + zero-norm NaN exclusion (fold yields NULL,
                    # sorted last; NaN would win the DESC window)
                    mask = (vids != qid) & np.isfinite(cos[:, j])
                    a = acc.setdefault(int(qid), ([], []))
                    a[0].append(cos[mask, j])
                    a[1].append(vids[mask])
            out_q, out_v, out_c = [], [], []
            for qid, (cs, vs) in acc.items():
                cj = np.concatenate(cs)
                vj = np.concatenate(vs)
                order = np.lexsort((vj, -cj))[:k]
                out_q.extend([qid] * len(order))
                out_v.extend(vj[order])
                out_c.extend(cj[order])
            yield pd.DataFrame({"query_id": out_q, "vec_id": out_v, "cosine": out_c})

    return assignments.select("vec_id", "v", "centroid_id").mapInPandas(
        fn, "query_id long, vec_id long, cosine double"
    )


def ivf_topk(
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    kernel: str = "auto",
) -> DataFrame:
    """Approximate cosine top-k: per query, scan only the `nprobe` centroids
    nearest to the query vector. Output schema matches `cosine_topk`.

    `kernel` as in cosine_topk: 'fold' (engine-reproducible sequential sums —
    the materialized-numpy-oracle twin, used by the 8-d gate query), 'matmul'
    (per-batch BLAS over each probed centroid's candidate rows + partial
    top-k — the probe join's candidate rows never all materialize into the
    window), 'auto' (matmul at >= MATMUL_MIN_DIM dims). The centroid-probe
    selection itself always runs as fold expressions: it is
    centroid-count-sized, not data-sized."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(query_vec_col)).alias("qv"),
    ).withColumn("qnrm", _norm(F.col("qv")))
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "d2",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("c"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("centroid_id").asc())
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qnrm", "centroid_id")
    )
    if kernel == "auto":
        first = q.select(F.size("qv").alias("d")).first()
        kernel = "matmul" if first is not None and first["d"] >= MATMUL_MIN_DIM else "fold"
    oversized_probes = False
    if kernel == "matmul":
        # guarded like cosine_topk: probe rows = queries x nprobe, still
        # broadcast-sized by contract; overflow routes to the fold kernel
        probe_rows = _guarded_collect(
            probes.select("query_id", "qv", "centroid_id"), "probe table (queries x nprobe)"
        )
        if probe_rows is None:
            kernel = "fold"
            oversized_probes = True
        elif not probe_rows:  # empty query batch: zero rows
            spark = assignments.sparkSession
            return spark.createDataFrame(
                [], "query_id long, vec_id long, cosine double, rank bigint"
            )
        else:
            scored = _ivf_matmul_topk_rows(assignments, probe_rows, k)
    if kernel != "matmul":
        # equi join on centroid_id: an over-cap probe table drops the forced
        # broadcast hint (driver-built) and lets AQE pick a shuffle join
        probes_j = probes if oversized_probes else F.broadcast(probes)
        scored = (
            assignments.join(probes_j, "centroid_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn(
                # try_divide: undefined (zero-norm) cosines -> NULL, excluded
                # in both kernels (ANSI double/0 throws on a bare `/`)
                "cosine",
                F.round(
                    F.try_divide(_dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qnrm")), 6
                ),
            )
            .filter(F.col("cosine").isNotNull())
        )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )
