"""One-pass per-image feature extraction with direct storage reads.

Motivation (measured, this sandbox): shipping a corpus-sized binary column
through the JVM->Python Arrow boundary runs at ~60 MB/s aggregate — a no-op
pandas UDF over 4.4 GB of bytes costs ~75-140 s regardless of batch size or
encoding. Production image pipelines avoid exactly this by passing
REFERENCES through the engine and letting workers fetch payloads straight
from storage (object store / table files). Here: each Spark task receives
parquet file PATHS, reads them with pyarrow directly (no JVM transfer), and
emits only the small feature columns:

    image_id, byte_len, byte_sha256, pixel_sha256, w, h, minhash, simhash,
    phash, sid

This single pass replaces the separate hash + signature UDF stages (bytes
would otherwise cross the boundary twice). It is the only feature path:
pipeline.run_pipeline stages a DataFrame input to parquet once and then
reads it here like any other file-backed input.

At cluster scale the same shape holds for Iceberg: plan file scan tasks from
the manifest, read data files directly in the workers, emit features.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dupion_spark.config import DedupConfig
from dupion_spark.functions import codec, signatures
from dupion_spark.sources.checkpoint import counted_checkpoint

# sid = file_idx << FILE_SHIFT | row group << ROW_BITS | row position
ROW_BITS = 20
FILE_SHIFT = 2 * ROW_BITS
ROW_MASK = (1 << ROW_BITS) - 1

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("byte_sha256", T.StringType()),
        T.StructField("pixel_sha256", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        # int32: minhash values are mod (2^31-1) by construction — halves
        # the dominant column of the feature checkpoint + Arrow transfer
        T.StructField("minhash", T.ArrayType(T.IntegerType())),
        T.StructField("simhash", T.LongType()),
        T.StructField("phash", T.LongType()),
        # sid: data-derived LONG id (file_idx<<40 | rg<<20 | pos), the one
        # key of every table from here to the outputs (reps, band rows,
        # pairs, verified edges, verdict reuse). It is also
        # the payload locator: the file index maps to a path through the
        # features manifest, so verify re-reads exactly the rows it needs
        # worker-side, names included.
        T.StructField("sid", T.LongType()),
    ]
)


def _extract_rows(table, cfg: DedupConfig, rg: int, file_idx: int) -> pd.DataFrame:
    out = {k: [] for k in ("image_id", "byte_len", "byte_sha256", "pixel_sha256",
                           "w", "h", "minhash", "simhash", "phash")}
    ids = table.column("image_id").to_pylist()
    blobs = table.column("bytes").to_pylist()
    captions = table.column("caption").to_pylist()
    # caption MinHash runs BATCHED over the whole row group (one flat shingle
    # array + segment mins) — per-row hashing paid ~150us of numpy/md5 call
    # overhead per caption, the dominant non-decode CPU term
    out["minhash"] = [
        s.tolist() for s in signatures.minhash_signatures_batch(captions, cfg)
    ]
    decoded = [codec.try_decode_image(blob) for blob in blobs]
    # signatures run BATCHED over same-shape stacks (bit-identical to the
    # per-image path — parity-tested in tests/test_signatures.py): real
    # corpora cluster on a few common dimensions, and stacking amortizes the
    # ~25 small-array numpy calls per image (~20% off the signature term,
    # the largest CPU slice of this stage)
    sim_b, ph_b = signatures.pixel_signatures_batch(decoded, cfg)
    for image_id, blob, pixels, sh, ph in zip(ids, blobs, decoded, sim_b, ph_b):
        out["image_id"].append(image_id)
        out["byte_len"].append(len(blob))
        out["byte_sha256"].append(hashlib.sha256(blob).hexdigest())
        if pixels is None:  # non-image payload (container/corrupt): F4 —
            out["pixel_sha256"].append(None)  # byte-hash-only row
            out["w"].append(0)
            out["h"].append(0)
            out["simhash"].append(None)
            out["phash"].append(None)
            continue
        h, w, _ = pixels.shape
        out["pixel_sha256"].append(codec.pixel_sha256(pixels))
        out["w"].append(w)
        out["h"].append(h)
        out["simhash"].append(sh)
        out["phash"].append(ph)
    frame = pd.DataFrame(out)
    frame["simhash"] = pd.array(out["simhash"], dtype="Int64")
    frame["phash"] = pd.array(out["phash"], dtype="Int64")
    base = (int(file_idx) << FILE_SHIFT) | (int(rg) << ROW_BITS)
    frame["sid"] = pd.array(base + np.arange(len(frame)), dtype="Int64")
    return frame


def extract_features_from_files(
    spark: SparkSession, source_path: str, cfg: DedupConfig,
    files_with_idx: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Feature table from a parquet directory, payloads read worker-side.

    Parallelism granularity = parquet row groups (each task reads row groups
    of its file directly via pyarrow). Write inputs with enough files/row
    groups for the cluster; the generator here writes 64.

    files_with_idx: explicit (path, file_idx) subset to extract — the
    incremental-resume path passes only NEW/CHANGED files here, with indices
    allocated past every previously-used file_idx so the derived sid
    surrogates can never collide with reused checkpointed rows."""
    import pyarrow.parquet as pq

    from dupion_spark.sources.files import list_parquet_files

    if files_with_idx is None:
        files_with_idx = list(enumerate(list_parquet_files(source_path)))
        files_with_idx = [(f, i) for i, f in files_with_idx]
    if not files_with_idx:
        raise ValueError(f"no parquet files under {source_path}")
    # one task per (file, row_group): row groups are the scan-split unit,
    # exactly like Iceberg/Parquet file-scan task planning. Footer reads are
    # DISTRIBUTED — at 10^6 files, opening every footer on the driver
    # serializes split planning on one node (Iceberg sidesteps this entirely:
    # manifests carry the split list; this path is the raw-parquet fallback).
    # file_idx feeds the sid surrogate (file_idx<<40 | rg<<20 | pos): unique
    # iff files < 2^23, row groups/file < 2^20, rows/row-group < 2^20 —
    # comfortably true for this raw-file fallback path (table formats carry
    # their own row ids)
    files_df = spark.createDataFrame(
        files_with_idx, "file string, file_idx int"
    )
    files_df = files_df.repartition(min(len(files_with_idx), 256))

    def footer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "file": pdf["file"],
                    "file_idx": pdf["file_idx"],
                    "n_rg": [pq.ParquetFile(f).num_row_groups for f in pdf["file"]],
                }
            )

    # the split list STAYS distributed (explode, no collect): only its row
    # count, observed in the job that checkpoints it, comes back to size the
    # round-robin fan-out — at 10^6 files a driver-side split list would
    # serialize planning on one node
    from pyspark.sql import functions as F

    splits, n = counted_checkpoint(
        files_df.mapInPandas(footer, "file string, file_idx int, n_rg int")
        .filter(F.col("n_rg") > 0)
        .select(
            "file",
            "file_idx",
            F.explode(F.sequence(F.lit(0), F.col("n_rg") - 1)).alias("row_group"),
        )
    )
    # at least one partition: an input with no row group has no split
    split_df = splits.repartition(max(min(n["rows"], 4096), 1))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, fidx, rg in zip(pdf["file"], pdf["file_idx"], pdf["row_group"]):
                table = pq.ParquetFile(path).read_row_group(
                    int(rg), columns=["image_id", "bytes", "caption"]
                )
                yield _extract_rows(table, cfg, rg=int(rg), file_idx=int(fidx))

    return split_df.mapInPandas(gen, FEATURE_SCHEMA)


def hashes_from_features(features: DataFrame) -> DataFrame:
    """The `hashes` stage (the feature table's ids and hashes), keeping the
    reference's candidate-prune semantics (F2, state/mod.rs:95-111):
    pixel_sha256 is exposed only for rows whose (w,h) group has >1 member —
    a row with a unique shape cannot be an exact pixel duplicate."""
    from pyspark.sql import functions as F

    counts = features.groupBy("w", "h").agg(F.count(F.lit(1)).alias("_shape_n"))
    return (
        features.join(F.broadcast(counts), ["w", "h"])
        .select(
            "image_id",
            "sid",
            "byte_len",
            "byte_sha256",
            F.when(F.col("_shape_n") > 1, F.col("pixel_sha256"))
            .otherwise(F.lit(None).cast("binary"))
            .alias("pixel_sha256"),
        )
    )


def signatures_from_features(features: DataFrame, reps: DataFrame) -> DataFrame:
    """Per-representative signature slice of the feature table, keyed by sid:
    (sid, w, h, minhash, simhash, phash)."""
    from pyspark.sql import functions as F

    rep_sids = reps.filter(F.col("sid") == F.col("rep_sid")).select("sid")
    return features.join(rep_sids, "sid", "left_semi").select(
        "sid", "w", "h", "minhash", "simhash", "phash"
    )
