"""Canonical ("senpai") election per cluster.

- election (reference O6, dupion/src/dedup/mod.rs:60-79): dupion elects the
  group representative by argmin over (n_extents ASC, phys_occurrences DESC,
  ctime ASC, |phys - avg_phys| ASC). The graft's analog ordering elects the
  canonical image per cluster by
      (byte_len ASC,        # least storage, ~ least-fragmented
       exact_copies DESC,   # the most-replicated encoding wins ties
       image_id ASC)        # deterministic final tiebreak
  as a groupBy argmin over a lexicographic struct (skew-immune; see
  canonical_map docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_map(clusters: DataFrame, hashes: DataFrame) -> DataFrame:
    """clusters(image_id, cluster_root) x hashes -> one row per cluster:
    (cluster_root, canonical_image_id, n_members, total_bytes).

    Skew shape: the election is a groupBy argmin over a lexicographic struct
    (byte_len ASC, exact_copies DESC via negation, image_id ASC), NOT a
    row_number window — a window full-sorts each cluster in one task, so a
    mega-cluster serializes on one core; min(struct) aggregates combiner-
    style with map-side partials. Same fix for the exact-copy counts: a
    groupBy count joined back instead of a count window over pixel_sha256."""
    # three consumers below (copies agg, hashed slice, null slice) — without
    # the lazy checkpoint each re-executes the clusters x hashes join
    enriched = clusters.join(
        hashes.select("image_id", "byte_len", "pixel_sha256"), "image_id"
    ).localCheckpoint(eager=False)
    # exact-copy counts per pixel hash; null-hash rows stay out of the join
    # (they'd pile into one null-key partition) and default to 1 copy
    copies = (
        enriched.filter(F.col("pixel_sha256").isNotNull())
        .groupBy("pixel_sha256")
        .agg(F.count(F.lit(1)).alias("_copies"))
    )
    with_hash = enriched.filter(F.col("pixel_sha256").isNotNull()).join(
        copies, "pixel_sha256"
    )
    without_hash = enriched.filter(F.col("pixel_sha256").isNull()).withColumn(
        "_copies", F.lit(1).cast("long")
    )
    unified = with_hash.unionByName(without_hash).select(
        "cluster_root", "image_id", "byte_len", F.col("_copies").alias("exact_copies")
    )
    best = F.min(
        F.struct(
            F.col("byte_len").alias("bl"),
            (-F.col("exact_copies")).alias("neg_copies"),
            F.col("image_id").alias("image_id"),
        )
    ).alias("_best")
    return (
        unified.groupBy("cluster_root")
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
