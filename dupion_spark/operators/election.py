"""Canonical ("senpai") election per cluster.

- election (reference O6, dupion/src/dedup/mod.rs:60-79): dupion elects the
  group representative by argmin over (n_extents ASC, phys_occurrences DESC,
  ctime ASC, |phys - avg_phys| ASC). The graft's analog ordering elects the
  canonical image per cluster by
      (byte_len ASC,        # least storage, ~ least-fragmented
       exact_copies DESC,   # the most-replicated encoding wins ties
       image_id ASC)        # deterministic final tiebreak
  as a groupBy argmin over a lexicographic struct (skew-immune; see
  canonical_map docstring). byte_len and exact_copies come with the
  representatives (operators/exact), which count each exact group once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_map(clusters: DataFrame, reps: DataFrame) -> DataFrame:
    """clusters(image_id, cluster_root) x reps(image_id, byte_len,
    exact_copies) -> one row per cluster:
    (cluster_root, canonical_image_id, n_members, total_bytes).

    exact_copies is the size of the row's exact-pixel group, counted once
    in operators/exact.representatives (1 for a shape-pruned row): every
    image is in exactly one cluster, so it is also the count of the row's
    exact copies inside its cluster.

    Skew shape: the election is a groupBy argmin over a lexicographic struct
    (byte_len ASC, exact_copies DESC via negation, image_id ASC), NOT a
    row_number window — a window full-sorts each cluster in one task, so a
    mega-cluster serializes on one core; min(struct) aggregates combiner-
    style with map-side partials."""
    best = F.min(
        F.struct(
            F.col("byte_len").alias("bl"),
            (-F.col("exact_copies")).alias("neg_copies"),
            F.col("image_id").alias("image_id"),
        )
    ).alias("_best")
    return (
        clusters.join(reps.select("image_id", "byte_len", "exact_copies"), "image_id")
        .groupBy("cluster_root")
        .agg(
            best,
            F.count(F.lit(1)).alias("n_members"),
            F.sum("byte_len").alias("total_bytes"),
        )
        .select(
            "cluster_root",
            F.col("_best.image_id").alias("canonical_image_id"),
            "n_members",
            "total_bytes",
        )
    )
