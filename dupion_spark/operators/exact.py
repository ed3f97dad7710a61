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
  group by hash (state/mod.rs:51-90)           one groupBy("pixel_sha256")
                                                per run: each row's rep_id and
                                                its group size (representatives)

The `hashes` table (image_id, sid, byte_len, byte_sha256, pixel_sha256)
comes only from the feature table: payloads are read and decoded once,
worker-side, and never cross the JVM->Python boundary again for hashing. The
(w,h) prune ratio is reported in the metrics table (BASELINE.md qualitative
metric).
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


def representatives(hashes: DataFrame) -> DataFrame:
    """hashes -> (image_id, sid, rep_id, rep_sid, byte_len, exact_copies):
    collapse exact-pixel-identical rows to one node before LSH banding
    (signatures of identical pixels are identical, so the collapsed graph has
    the same connected components). This is the first skew weapon: an exact
    mega-group becomes ONE LSH node. rep_id is the group's minimum member id,
    rep_sid (its key in the LSH and verify tables) that member's sid and
    exact_copies the group size, which the canonical election reads.

    groupBy-agg, NOT a window: a window over pixel_sha256 full-sorts each
    group in ONE task, so a 10^6-replica mega-group serializes on a single
    core. The aggregate runs combiner-style (map-side partial min and
    count) and the join back is AQE-skew-splittable — the skew-immune shape
    connected_components already uses (its docstring says why)."""
    hashed = hashes.filter(F.col("pixel_sha256").isNotNull())
    groups = hashed.groupBy("pixel_sha256").agg(
        F.min(F.struct("image_id", "sid")).alias("_rep"),
        F.count(F.lit(1)).alias("exact_copies"),
    )
    # pruned rows (null hash) are their own representative with one copy;
    # keep them OUT of the join — otherwise every pruned row lands in one
    # null-key partition (a self-inflicted skew hotspot at 10^12 rows)
    pruned = hashes.filter(F.col("pixel_sha256").isNull()).select(
        "image_id", "sid", F.col("image_id").alias("rep_id"),
        F.col("sid").alias("rep_sid"), "byte_len",
        F.lit(1).cast("long").alias("exact_copies"),
    )
    return (
        hashed.join(groups, "pixel_sha256")
        .select("image_id", "sid", F.col("_rep.image_id").alias("rep_id"),
                F.col("_rep.sid").alias("rep_sid"), "byte_len", "exact_copies")
        .unionByName(pruned)
    )
