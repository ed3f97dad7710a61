"""Media-pipeline queries for the driver contract — value-checked vs golden.

Same strategy as image_queries.py: the deterministic media fixture
(sources/synth_media.py) materializes per scale under data/, and its
single-process golden tables ARE the expected outputs — so the driver's
DuckDB oracles value-check audio feature extraction, video frame sampling,
video near-dup candidates, and image resize instead of rows-only counts.
The decode work itself is not SQL-expressible; the golden parquet is read
back verbatim by the oracle.

Scale binding mirrors image_queries: oracle SQL is generated per scale and
bound to ORACLE_SCALE (overridable via $SPARK_GRAFT_ORACLE_SF);
oracle_sql_for_scale exposes any scale directly for the parity tests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dupion_spark.config import DedupConfig
from dupion_spark.operators import media as media_ops
from dupion_spark.sources.synth_media import (
    FRAME_STRIDE,
    PAIR_MAX_VIDEOS_PER_HASH,
    PAIR_MIN_SHARED,
    RESIZE_HW,
    codec_image_count,
    materialize_media,
)

DATA_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data"
)

# (n_audio, n_video, n_images) per driver scale factor
SCALE_MEDIA = {
    "sf0.001": (48, 24, 30),
    "sf0.01": (192, 96, 120),
    "sf0.1": (960, 480, 600),
}

ORACLE_SCALE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.01")


def _fixture_dir(sf_dir: str) -> str:
    scale = os.path.basename(sf_dir.rstrip("/")) or "sf0.001"
    n_audio, n_video, n_images = SCALE_MEDIA.get(scale, SCALE_MEDIA["sf0.001"])
    out = os.path.join(DATA_ROOT, f"media_{scale}")
    materialize_media(out, n_audio, n_video, n_images)
    return out


def ensure_oracle_fixture(scale: str | None = None) -> None:
    scale = scale or ORACLE_SCALE
    _fixture_dir(scale)


def _media_counts(sf_dir: str) -> tuple[int, int, int]:
    scale = os.path.basename(sf_dir.rstrip("/")) or "sf0.001"
    return SCALE_MEDIA.get(scale, SCALE_MEDIA["sf0.001"])


def _media_fan_out(df: DataFrame, key: str, n_rows: int) -> DataFrame:
    """Row-count-aware input-skew guard for the single-row-group media
    fixtures (optimization guide §2.5): the whole per-row Python decode
    (mapInPandas) otherwise runs in ONE task. Unlike the text/event tables,
    media fixtures can be tiny (tens of rows at the fallback scale), where a
    32-way exchange plus 32 python-worker tasks costs more than the serial
    decode it replaces — measured +2.3 s across the sf0.01 composite. So the
    partition target scales with the known fixture row count (>=16 rows per
    decode task) and the guard is a no-op when that target is 1 or the scan
    already has enough partitions. Per-row decode output is partition-
    independent (operators/media pins the nullable-int dtype coercion)."""
    spark = df.sparkSession
    target = min(spark.sparkContext.defaultParallelism, max(1, n_rows // 16))
    if target > 1 and df.rdd.getNumPartitions() < target:
        return df.repartition(target, key)
    return df


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode -> duration/rate/channels/rms/zcr + 64-bit spectral
    fingerprint; corrupt rows degrade to NULL features (F4)."""
    fdir = _fixture_dir(sf_dir)
    # _fan_out (guide §2.5): the single-row-group fixture file otherwise pins
    # the whole per-row Python decode (mapInPandas) to ONE task; per-row
    # decode output is partition-independent
    n_audio, _, _ = _media_counts(sf_dir)
    audio = _media_fan_out(
        spark.read.parquet(os.path.join(fdir, "audio.parquet")), "audio_id", n_audio
    )
    return media_ops.audio_features(audio)


def q_media_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video -> sampled-frame signature rows (every FRAME_STRIDE-th frame
    decoded; unsampled frames skipped at the container level)."""
    fdir = _fixture_dir(sf_dir)
    _, n_video, _ = _media_counts(sf_dir)
    video = _media_fan_out(
        spark.read.parquet(os.path.join(fdir, "video.parquet")), "video_id", n_video
    )
    return media_ops.sample_frames(video, DedupConfig(), stride=FRAME_STRIDE)


def q_media_video_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup candidates: frame-phash groupBy over ALL frames
    (stride=1), >= PAIR_MIN_SHARED shared distinct hashes per pair."""
    fdir = _fixture_dir(sf_dir)
    _, n_video, _ = _media_counts(sf_dir)
    video = _media_fan_out(
        spark.read.parquet(os.path.join(fdir, "video.parquet")), "video_id", n_video
    )
    frames = media_ops.sample_frames(video, DedupConfig(), stride=1)
    return media_ops.video_pair_candidates(
        frames,
        min_shared=PAIR_MIN_SHARED,
        max_videos_per_hash=PAIR_MAX_VIDEOS_PER_HASH,
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> 16x16 nearest-neighbor resize -> png re-encode; compare the
    re-encoded payload by sha256 (undecodable rows are dropped)."""
    fdir = _fixture_dir(sf_dir)
    _, _, n_images = _media_counts(sf_dir)
    images = _media_fan_out(
        spark.read.parquet(os.path.join(fdir, "media_images.parquet")), "image_id",
        n_images,
    )
    out_h, out_w = RESIZE_HW
    resized = media_ops.resize_images(images, out_h, out_w, fmt="png")
    return resized.select(
        "image_id", "w", "h", "fmt",
        F.sha2(F.col("bytes"), 256).alias("payload_sha"),
    )


def q_media_codec_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed real-format decode parity: real PNG/JPEG/GIF/BMP re-encodes of
    shared frames through the engine's canonical pixel-sha pandas UDF
    (functions/spark_udfs.py). PNG/GIF/BMP of one frame must produce ONE sha
    (cross-format exact-dup collision, the reference's content-hash semantic
    over decoded pixels); truncated payloads degrade to NULL (F4)."""
    from dupion_spark.functions.spark_udfs import make_pixel_sha256_udf

    fdir = _fixture_dir(sf_dir)
    _, _, n_images = _media_counts(sf_dir)
    images = _media_fan_out(
        spark.read.parquet(os.path.join(fdir, "codec_images.parquet")), "image_id",
        codec_image_count(n_images),
    )
    sha = make_pixel_sha256_udf()
    return images.select(
        "image_id", "fmt",
        F.lower(F.hex(sha(F.col("bytes")))).alias("pixel_sha"),
    )


def media_queries() -> dict:
    return {
        "media_audio_features": q_media_audio_features,
        "media_frame_index": q_media_frame_index,
        "media_video_pairs": q_media_video_pairs,
        "media_resize": q_media_resize,
        "media_codec_formats": q_media_codec_formats,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------
def oracle_sql_for_scale(scale: str) -> dict[str, str]:
    fdir = os.path.join(DATA_ROOT, f"media_{scale}")

    def g(name: str) -> str:
        return os.path.join(fdir, f"{name}.parquet").replace("'", "''")

    return {
        "media_audio_features": (
            "SELECT audio_id, duration_s, sample_rate, channels, rms, zcr, "
            f"fingerprint FROM read_parquet('{g('golden_audio')}')"
        ),
        "media_frame_index": (
            "SELECT video_id, frame_idx, n_frames, phash, simhash "
            f"FROM read_parquet('{g('golden_frames')}')"
        ),
        "media_video_pairs": (
            "SELECT id_l, id_r, shared_frames "
            f"FROM read_parquet('{g('golden_video_pairs')}')"
        ),
        "media_resize": (
            "SELECT image_id, w, h, fmt, payload_sha "
            f"FROM read_parquet('{g('golden_resize')}')"
        ),
        "media_codec_formats": (
            "SELECT image_id, fmt, pixel_sha "
            f"FROM read_parquet('{g('golden_codec')}')"
        ),
    }


def media_oracle_sql() -> dict[str, str]:
    ensure_oracle_fixture()
    return oracle_sql_for_scale(ORACLE_SCALE)
