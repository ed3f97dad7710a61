"""Exact-duplicate stage: pixel-hash groups and their representatives.

This is dupion's core pipeline re-expressed declaratively:

  dupion (reference)                          dupion_spark
  ------------------------------------------  --------------------------------
  pass 1: stat every file, group by size      shape prune: pixel_sha256 kept
    (state/mod.rs:17-50)                        only for rows whose (w,h)
  hash candidates = size non-unique             group has >1 member
    (is_file_read_candidate,                    (features.hashes_from_features)
     state/mod.rs:95-111)
  pass 2: blake3 file bytes                    SHA-256 of decoded pixels,
    (driver/platterwalker.rs:268-344)           computed once per row in the
                                                feature pass (codec.pixel_sha256)
  group by hash (state/mod.rs:51-90)           groupBy("pixel_sha256")

The `hashes` table (image_id, byte_len, byte_sha256, pixel_sha256) comes only
from the feature table: payloads are read and decoded once, worker-side, and
never cross the JVM->Python boundary again for hashing. The (w,h) prune ratio
is reported in the metrics table (BASELINE.md qualitative metric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_groups(hashes: DataFrame) -> DataFrame:
    """Multi-member exact-pixel groups (dupion's HashGroup, state/mod.rs:51-90):
    pixel_sha256, n_members, total_bytes, member ids (sorted)."""
    return (
        hashes.filter(F.col("pixel_sha256").isNotNull())
        .groupBy("pixel_sha256")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("byte_len").alias("total_bytes"),
            F.sort_array(F.collect_list("image_id")).alias("members"),
        )
        .filter(F.col("n_members") > 1)
    )


def _group_roots(hashes: DataFrame) -> DataFrame:
    """pixel_sha256 -> _root (the minimum member id).

    groupBy-agg, NOT a window: a window over pixel_sha256 full-sorts each
    group in ONE task, so a 10^6-replica mega-group serializes on a single
    core. The aggregate runs combiner-style (map-side partial min) and
    the join back is AQE-skew-splittable — the skew-immune shape
    connected_components already uses (its docstring says why)."""
    return (
        hashes.filter(F.col("pixel_sha256").isNotNull())
        .groupBy("pixel_sha256")
        .agg(F.min("image_id").alias("_root"))
    )


def representatives(hashes: DataFrame) -> DataFrame:
    """image_id -> rep_id: collapse exact-pixel-identical rows to one node
    before LSH banding (signatures of identical pixels are identical, so the
    collapsed graph has the same connected components). This is the first
    skew weapon: an exact mega-group becomes ONE LSH node."""
    roots = _group_roots(hashes)
    hashed = (
        hashes.filter(F.col("pixel_sha256").isNotNull())
        .join(roots, "pixel_sha256")
        .select("image_id", F.col("_root").alias("rep_id"))
    )
    # pruned rows (null hash) are their own representative; keep them OUT of
    # the join — otherwise every pruned row lands in one null-key partition
    # (a self-inflicted skew hotspot at 10^12 rows)
    pruned = hashes.filter(F.col("pixel_sha256").isNull()).select(
        "image_id", F.col("image_id").alias("rep_id")
    )
    return hashed.unionByName(pruned)
