"""Stage isolation for the minhash dedup family (guide §1.4: noop sink).

Times each sub-stage of minhash_dedup separately at a given sf dir so the
optimization targets the dominant phase, not a guess.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(spark, label, df, reps=2):
    spark.sparkContext.setJobDescription(label)
    df.write.format("noop").mode("overwrite").save()  # warm
    best = None
    for _ in range(reps):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    print(f"{label}: {best:.3f}s", file=sys.stderr)
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf1.0"
    from knowledge_graph_integration_rag_biomedical_qna_spark.entry_queries import _t_wide
    from knowledge_graph_integration_rag_biomedical_qna_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup,
        minhash_hash_expr,
        minhash_hash_expr_fast,
        with_shingles,
    )
    from knowledge_graph_integration_rag_biomedical_qna_spark.session import get_spark

    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="minhash_probe", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.range(1000).selectExpr("sum(id)").collect()

    docs = _t_wide(spark, sf_dir, "documents")
    print("docs rows:", docs.count(), file=sys.stderr)

    for family in ("md5", "xxhash64"):
        bands = 4 if family == "md5" else 8
        sh = with_shingles(docs, n=3)
        if family == "xxhash64":
            sh = sh.withColumn("shingle", F.xxhash64("shingle"))
        expr = minhash_hash_expr if family == "md5" else minhash_hash_expr_fast
        timed(spark, f"{family}: shingles only", sh)
        agg = sh.groupBy("id").agg(
            *[F.min(expr(i)).alias(f"h{i}") for i in range(16)],
            F.count(F.lit(1)).alias("n"),
        )
        timed(spark, f"{family}: signatures agg", agg)
        cand = lsh_candidate_pairs(agg, num_hashes=16, bands=bands)
        print(f"{family}: n_cand =", cand.count(), file=sys.stderr)
        timed(spark, f"{family}: candidates", cand)
        full = minhash_dedup(docs, n=3, num_hashes=16, bands=bands, threshold=0.35, family=family)
        timed(spark, f"{family}: full pipeline", full)

    spark.stop()


if __name__ == "__main__":
    main()
