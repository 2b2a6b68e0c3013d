"""Join-based reference for the dedup operators' exact-Jaccard verify.

`operators.dedup.array_jaccard_verify` intersects per-doc shingle-hash
arrays; this form re-joins the shingle table instead and counts the
intersection with a groupBy. The tests hold the array form equal to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def jaccard_verify(pairs: DataFrame, shingles: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs; keep pairs >= threshold.

    The intersection join keys on xxhash64(shingle), not the shingle string:
    the intersection COUNT — all the join contributes — is unchanged unless
    two distinct shingles of the same doc pair collide in 64 bits
    (~(n_a*n_b)/2^64 per pair — vanishing). Pairs sharing no shingle form
    no intersection row and are dropped at any threshold."""
    key = F.xxhash64("shingle")
    sa = shingles.select(F.col("id").alias("id_a"), key.alias("sh_k"))
    sb = shingles.select(F.col("id").alias("id_b"), key.alias("sh_k"))
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "sh_k"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
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
