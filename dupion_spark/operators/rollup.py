"""Per-partition rollup hash + duplicated-partition shadow marking.

Grafts dupion's recursive directory aggregation onto flat table partitions:

- rollup hash (reference A4, dupion/src/process/mod.rs:35-108): dir_hash =
  blake3 over the SORTED (child_name, child_hash) pairs -> here
  rollup_hash = sha256 over sorted (rel_name, pixel_hash_hex) pairs of the
  partition. Deterministic and order-insensitive by construction.
- shadow propagation (reference J3, dupion/src/process/mod.rs:110-136 +
  vfs/entry.rs:161-169): members of a partition whose rollup hash occurs more
  than once are "shadowed" — they duplicate *for free* inside a duplicated
  container, so group output can hide them (operators/groups shadow rules).

Scale: one groupBy(part_key) shuffle; the sorted-pair concat uses
sort_array(collect_list(...)) per partition — partition fan-in is bounded by
partition sizing policy, same contract as dupion's per-directory child list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rollup_table(hashes: DataFrame, partition_map: DataFrame) -> DataFrame:
    """(part_key, rollup_hash, rollup_count, rollup_bytes).

    hashes: operators/features.hashes_from_features output (pixel_sha256 may
    be null for shape-pruned rows — the rollup uses byte_sha256 then, still
    content-deterministic)."""
    joined = partition_map.join(hashes, "image_id")
    child_hash = F.coalesce(F.hex(F.col("pixel_sha256")), F.col("byte_sha256"))
    pair = F.concat_ws(":", F.col("rel_name"), child_hash)
    return (
        joined.groupBy("part_key")
        .agg(
            F.sha2(
                F.array_join(F.sort_array(F.collect_list(pair)), "|"), 256
            ).alias("rollup_hash"),
            F.count(F.lit(1)).alias("rollup_count"),
            F.sum("byte_len").alias("rollup_bytes"),
        )
    )


def duplicated_partitions(rollup: DataFrame) -> DataFrame:
    """Partitions whose full content hash occurs >1 time (dupion's duplicated
    directories): part_key, rollup_hash, n_twins."""
    win = Window.partitionBy("rollup_hash")
    return (
        rollup.withColumn("n_twins", F.count(F.lit(1)).over(win))
        .filter(F.col("n_twins") > 1)
        .select("part_key", "rollup_hash", "n_twins")
    )


def shadowed_images(partition_map: DataFrame, dup_parts: DataFrame) -> DataFrame:
    """image_id -> shadowed flag via semi-join against duplicated partitions
    (reference J3 as a broadcast-able semi-join: the duplicated-partition set
    is tiny relative to the corpus)."""
    flagged = partition_map.join(
        F.broadcast(dup_parts.select("part_key")), "part_key", "left_semi"
    ).select("image_id", F.lit(True).alias("shadowed"))
    return partition_map.select("image_id").join(flagged, "image_id", "left").select(
        "image_id", F.coalesce(F.col("shadowed"), F.lit(False)).alias("shadowed")
    )
