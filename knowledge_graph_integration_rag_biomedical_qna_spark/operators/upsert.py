"""MERGE/upsert emulation without a lakehouse MERGE INTO.

The image has no Delta/Iceberg runtime, so an upsert composes from
primitives (anti-join + union + window):

- `latest_per_key`: collapse an update batch to its highest version per key.
- `merge_upsert`: last-writer-wins per key — `current LEFT ANTI updates` ∪
  `updates`. The registry query `merge_upsert_orders` runs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(updates: DataFrame, key_cols: list[str], version_col: str) -> DataFrame:
    """Collapse an update batch to one row per key (highest version wins;
    ties impossible if version_col is unique per key — enforce upstream)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(
    current: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str | None = None,
) -> DataFrame:
    """UPSERT: rows from `updates` replace same-key rows of `current`;
    unmatched update rows are inserts. Pure anti-join + union — both inputs
    shuffle once on the key (or broadcast if updates are small)."""
    if version_col is not None:
        updates = latest_per_key(updates, key_cols, version_col)
    kept = current.join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
    return kept.unionByName(updates.select(*current.columns))
