"""Snapshot/partition diff — dupion's treediff as a full-outer equi-join.

Reference J2 (dupion/src/output/treediff.rs:96-131): for two roots A and B,
translate each path A/x -> B/x, probe, compare hashes, classify:
  2 (DUPS)  — present in both with equal content hash
  1 (SUPR)  — superset relationship (all of one side's children covered)
  0 (UNIQ)  — differs / present on one side only

Grafted: compare two partitions (or two table snapshots) keyed by rel_name.
The row-level classification is the full-outer join + CASE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def diff_rows(side_a: DataFrame, side_b: DataFrame, key: str = "rel_name",
              content: str = "content_hash") -> DataFrame:
    """Full-outer join of two keyed row sets -> per-key diff status.

    Inputs carry (key, content) columns. Output: key, status
    (2 equal / 1 one-side-only / 0 differs), plus both hashes."""
    a = side_a.select(F.col(key).alias("k"), F.col(content).alias("hash_a"))
    b = side_b.select(F.col(key).alias("k"), F.col(content).alias("hash_b"))
    return (
        a.join(b, "k", "full_outer")
        .select(
            F.col("k").alias(key),
            "hash_a",
            "hash_b",
            F.when(F.col("hash_a") == F.col("hash_b"), F.lit(2))
            .when(F.col("hash_a").isNull() | F.col("hash_b").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("status"),
        )
    )
