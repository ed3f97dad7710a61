"""Deterministic audio/video fixture + golden oracle tables.

Mirrors sources/synth.py's contract for the media operators
(operators/media.py): the generator plants known structure (volume-scaled
audio duplicates, videos sharing frames, corrupt payloads) and computes every
expected query output SINGLE-PROCESS in plain numpy — independent of the
Spark plumbing (mapInPandas batching, shuffles, Arrow conversion) the queries
exercise — so the driver's DuckDB oracles value-check media queries instead
of rows-only counts.

Golden tables:
  golden_audio       expected `audio_features` output (decode replicated
                     here row-by-row; corrupt rows -> NULL features)
  golden_frames      expected `sample_frames(stride=2)` output
  golden_video_pairs expected `video_pair_candidates(sample_frames(stride=1))`
                     output: |phash-set intersection| >= 2, id_l < id_r
  golden_resize      expected `resize_images(16,16,png)` output with the
                     re-encoded payload's sha256 (undecodable rows dropped)
  golden_codec       expected pixel-sha output over a MIXED REAL-FORMAT
                     corpus (real PNG/JPEG/GIF/BMP/TIFF/PPM re-encodes of shared
                     frames): the lossless formats of one frame share the
                     canonical pixel sha (cross-format exact collision),
                     JPEG differs (lossy), truncated payloads -> NULL (F4)

Determinism: per-row numpy Generators seeded from the row index, so the
fixture is reproducible and order-independent. Volume-scaled duplicates use
EXACT halving of even int16 samples — peak-normalization then makes the
normalized waveform bit-identical, so the planted pair provably shares its
spectral fingerprint (tests/test_media_oracle.py asserts it).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from dupion_spark.config import DedupConfig
from dupion_spark.functions import codec, media, signatures

MEDIA_SYNTH_VERSION = 6

# query-shape constants shared with media_queries.py: golden tables are
# computed FOR these parameters, so the Spark queries must use the same ones
FRAME_STRIDE = 2
PAIR_MIN_SHARED = 2
PAIR_MAX_VIDEOS_PER_HASH = 64
RESIZE_HW = (16, 16)


@dataclass
class MediaSynthResult:
    audio: pd.DataFrame          # audio_id, bytes
    video: pd.DataFrame          # video_id, bytes
    media_images: pd.DataFrame   # image_id, bytes
    codec_images: pd.DataFrame   # image_id, fmt, bytes (mixed real formats)
    golden_audio: pd.DataFrame
    golden_frames: pd.DataFrame
    golden_video_pairs: pd.DataFrame
    golden_resize: pd.DataFrame
    golden_codec: pd.DataFrame


# ---------------------------------------------------------------------------
# audio
# ---------------------------------------------------------------------------
def _sine_mix(rng: np.random.Generator) -> tuple[np.ndarray, int]:
    """Even-valued int16 PCM (so exact //2 volume scaling stays linear)."""
    rate = int(rng.choice([8000, 16000, 22050]))
    channels = int(rng.choice([1, 2]))
    n = int(rate * rng.uniform(0.3, 0.8))
    t = np.arange(n) / rate
    wave = np.zeros((n, channels))
    for _ in range(int(rng.integers(2, 4))):
        freq = rng.uniform(80, min(3500, rate / 2 - 100))
        amp = rng.uniform(2000, 9000)
        phase = rng.uniform(0, 2 * np.pi)
        wave += amp * np.sin(2 * np.pi * freq * t + phase)[:, None]
    samples = np.clip(wave, -30000, 30000).astype(np.int16)
    return (samples // 2) * 2, rate


def _wav_bytes(samples: np.ndarray, rate: int) -> bytes:
    import io
    import wave as _wave

    buf = io.BytesIO()
    with _wave.open(buf, "wb") as wf:
        wf.setnchannels(samples.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.ascontiguousarray(samples).tobytes())
    return buf.getvalue()


def _expected_audio_row(aid: str, blob: bytes) -> dict:
    """Replicates operators/media.audio_features math single-process."""
    row = {"audio_id": aid, "duration_s": None, "sample_rate": None,
           "channels": None, "rms": None, "zcr": None, "fingerprint": None}
    decoded = media.try_decode_audio(blob)
    if decoded is None:
        return row
    samples, rate = decoded
    mono = samples.astype(np.float64).mean(axis=1)
    n = mono.shape[0]
    row["duration_s"] = n / rate if rate else None
    row["sample_rate"] = rate
    row["channels"] = samples.shape[1]
    row["rms"] = float(np.sqrt(np.mean(mono**2))) if n else 0.0
    signs = np.signbit(mono)
    row["zcr"] = float(np.mean(signs[1:] != signs[:-1])) if n > 1 else 0.0
    row["fingerprint"] = media.audio_fingerprint64(samples, rate) if n else None
    return row


def _gen_audio(n_audio: int) -> tuple[pd.DataFrame, pd.DataFrame, list[tuple[str, str]]]:
    rows, golden, volume_pairs = [], [], []
    prev: tuple[str, np.ndarray, int] | None = None  # last base DWAV row
    for i in range(n_audio):
        aid = f"aud{i:07d}"
        rng = np.random.default_rng(9_000_000 + i)
        if i % 13 == 7:
            # undecodable: real-world compressed formats the container can't
            # decode (mp3 magic) and outright junk — both must degrade to
            # NULL features, never kill the job (F4)
            blob = (b"\xff\xfb" if i % 2 else b"!junk!") + rng.bytes(64)
        elif i % 6 == 5:
            samples, rate = _sine_mix(rng)
            blob = _wav_bytes(samples, rate)  # real RIFF/WAVE (stdlib path)
        elif i % 10 == 9 and prev is not None:
            # planted near-dup: exact half volume of the previous base row.
            # Peak normalization makes the fingerprint provably identical.
            pid, psamples, prate = prev
            blob = media.encode_audio(psamples // 2, prate)
            volume_pairs.append((pid, aid))
        else:
            samples, rate = _sine_mix(rng)
            blob = media.encode_audio(samples, rate)
            prev = (aid, samples, rate)
        rows.append({"audio_id": aid, "bytes": blob})
        golden.append(_expected_audio_row(aid, blob))
    return pd.DataFrame(rows), pd.DataFrame(golden), volume_pairs


# ---------------------------------------------------------------------------
# video
# ---------------------------------------------------------------------------
def _frame_pixels(rng: np.random.Generator) -> np.ndarray:
    h, w = 24, 32
    coarse = rng.integers(16, 240, size=(6, 8, 3))
    up = np.repeat(np.repeat(coarse, 4, axis=0), 4, axis=1)[:h, :w, :]
    noise = rng.integers(-6, 7, size=up.shape)
    return np.clip(up + noise, 0, 255).astype(np.uint8)


def _gen_video(n_video: int, cfg: DedupConfig) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    rows = []
    frames_by_vid: dict[str, list[bytes]] = {}
    prev_frames: list[bytes] | None = None
    for j in range(n_video):
        vid = f"vid{j:07d}"
        rng = np.random.default_rng(17_000_000 + j)
        if j % 11 == 6:
            rows.append({"video_id": vid, "bytes": b"AVI?" + rng.bytes(48)})
            continue
        n_frames = int(rng.integers(4, 9))
        if j % 7 == 2 and j % 8 != 3:
            # real ANIMATED GIF container row: the engine's frame sampler
            # walks image-descriptor blocks (functions/gif.gif_frame_spans)
            # exactly as it walks DVID prefixes / AVI movi chunks. Frames
            # quantize to a GIF-safe palette; golden frame blobs are the
            # equivalent single-frame GIF encodes of the same pixels.
            from dupion_spark.functions.gif import (
                encode_real_gif,
                encode_real_gif_animation,
            )

            pxs = [_frame_pixels(rng) // 64 * 64 for _ in range(n_frames)]
            rows.append({"video_id": vid,
                         "bytes": encode_real_gif_animation(pxs)})
            frames = [encode_real_gif(px) for px in pxs]
            frames_by_vid[vid] = frames
            prev_frames = frames
            continue
        enc = codec.encode_jpeg if j % 5 == 0 else codec.encode_png
        frames = [enc(_frame_pixels(rng)) for _ in range(n_frames)]
        if j % 8 == 3 and prev_frames is not None:
            # planted near-dup pair: share the previous video's first 3
            # frames byte-for-byte (>= PAIR_MIN_SHARED distinct phashes)
            frames[:3] = prev_frames[:3]
        rows.append({"video_id": vid, "bytes": media.encode_video(frames)})
        frames_by_vid[vid] = frames
        prev_frames = frames

    # golden_frames: expected sample_frames(stride=FRAME_STRIDE) output
    frame_rows = []
    phash_sets: dict[str, set[int]] = {}
    for row in rows:
        vid = row["video_id"]
        if vid not in frames_by_vid:  # corrupt container
            frame_rows.append({"video_id": vid, "frame_idx": -1,
                               "n_frames": None, "phash": None, "simhash": None})
            continue
        frames = frames_by_vid[vid]
        hashes: set[int] = set()
        for idx, blob in enumerate(frames):
            pixels = codec.decode_image(blob)
            sh, ph = signatures.pixel_signatures(pixels, cfg)
            hashes.add(ph)
            if idx % FRAME_STRIDE == 0:
                frame_rows.append({"video_id": vid, "frame_idx": idx,
                                   "n_frames": len(frames),
                                   "phash": ph, "simhash": sh})
        phash_sets[vid] = hashes

    # golden_video_pairs: expected video_pair_candidates over stride=1 frames
    pair_rows = []
    vids = sorted(phash_sets)
    by_hash: dict[int, list[str]] = {}
    for vid in vids:
        for ph in phash_sets[vid]:
            by_hash.setdefault(ph, []).append(vid)
    shared: dict[tuple[str, str], int] = {}
    for members in by_hash.values():
        if len(members) > PAIR_MAX_VIDEOS_PER_HASH:
            continue  # df-cutoff, mirrors operators/media.video_pair_candidates
        for a_i in range(len(members)):
            for b_i in range(a_i + 1, len(members)):
                key = (members[a_i], members[b_i])
                shared[key] = shared.get(key, 0) + 1
    for (id_l, id_r), n_sh in sorted(shared.items()):
        if n_sh >= PAIR_MIN_SHARED:
            pair_rows.append({"id_l": id_l, "id_r": id_r, "shared_frames": n_sh})
    return (pd.DataFrame(rows), pd.DataFrame(frame_rows),
            pd.DataFrame(pair_rows,
                         columns=["id_l", "id_r", "shared_frames"]))


# ---------------------------------------------------------------------------
# images (resize)
# ---------------------------------------------------------------------------
def _gen_images(n_images: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    out_h, out_w = RESIZE_HW
    rows, golden = [], []
    for k in range(n_images):
        iid = f"mimg{k:06d}"
        rng = np.random.default_rng(23_000_000 + k)
        if k % 9 == 4:
            rows.append({"image_id": iid, "bytes": b"GIF9" + rng.bytes(32)})
            continue  # undecodable: dropped by resize, absent from golden
        h = int(rng.integers(20, 48))
        w = int(rng.integers(20, 48))
        coarse = rng.integers(16, 240, size=(max(4, h // 4), max(4, w // 4), 3))
        up = np.repeat(np.repeat(coarse, 4, axis=0), 4, axis=1)[:h, :w, :]
        pixels = np.clip(up + rng.integers(-6, 7, size=up.shape), 0, 255).astype(np.uint8)
        enc = codec.encode_jpeg if k % 4 == 1 else codec.encode_png
        rows.append({"image_id": iid, "bytes": enc(pixels)})
        # expected resize output: same nearest-neighbor index math as
        # operators/media.resize_images, replicated single-process
        decoded = codec.decode_image(rows[-1]["bytes"])
        dh, dw = decoded.shape[:2]
        r_idx = np.minimum((np.arange(out_h) * dh) // out_h, dh - 1)
        c_idx = np.minimum((np.arange(out_w) * dw) // out_w, dw - 1)
        small = decoded[r_idx[:, None], c_idx[None, :]]
        payload = codec.encode_png(small)
        golden.append({"image_id": iid, "w": out_w, "h": out_h, "fmt": "png",
                       "payload_sha": hashlib.sha256(payload).hexdigest()})
    return pd.DataFrame(rows), pd.DataFrame(golden)


def _gen_codec_images(n_codec: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Mixed REAL-format corpus: consecutive 6-row groups are the SAME frame
    encoded as real PNG / JPEG / GIF / BMP / TIFF / PPM
    (functions/{png,jpeg,gif,bmp,tiff,pnm}.py), so the lossless rows of a
    group decode bit-identically (one canonical pixel sha) while the JPEG
    row is a lossy near-dup. Every 10th row is truncated -> NULL sha (F4
    degradation). Golden shas replicate
    functions/codec.pixel_sha256 (the canonical buffer hash)
    single-process."""
    from dupion_spark.functions.bmp import encode_real_bmp
    from dupion_spark.functions.gif import encode_real_gif
    from dupion_spark.functions.jpeg import encode_real_jpeg
    from dupion_spark.functions.png import encode_real_png
    from dupion_spark.functions.pnm import encode_real_ppm
    from dupion_spark.functions.tiff import encode_real_tiff

    encoders = [("png", encode_real_png), ("jpeg", encode_real_jpeg),
                ("gif", encode_real_gif), ("bmp", encode_real_bmp),
                ("tiff", encode_real_tiff), ("pnm", encode_real_ppm)]
    rows, golden = [], []
    for k in range(n_codec):
        group, variant = divmod(k, 6)
        iid = f"cimg{k:06d}"
        rng = np.random.default_rng(24_000_000 + group)
        h = int(rng.integers(20, 48))
        w = int(rng.integers(20, 48))
        coarse = rng.integers(16, 240, size=(max(4, h // 4), max(4, w // 4), 3))
        up = np.repeat(np.repeat(coarse, 4, axis=0), 4, axis=1)[:h, :w, :]
        # 32-step quantization keeps the palette GIF-safe (<=256 colors)
        pixels = (up // 32 * 32).astype(np.uint8)
        fmt, enc = encoders[variant]
        blob = enc(pixels)
        if k % 10 == 9:  # truncated payload: undecodable, NULL sha
            rows.append({"image_id": iid, "fmt": fmt,
                         "bytes": blob[: len(blob) // 2]})
            golden.append({"image_id": iid, "fmt": fmt, "pixel_sha": None})
            continue
        rows.append({"image_id": iid, "fmt": fmt, "bytes": blob})
        decoded = codec.decode_image(blob)
        dh, dw, dc = decoded.shape
        hasher = hashlib.sha256()
        hasher.update(f"{dh}x{dw}x{dc}:".encode())
        hasher.update(decoded.tobytes())
        golden.append({"image_id": iid, "fmt": fmt,
                       "pixel_sha": hasher.hexdigest()})
    return pd.DataFrame(rows), pd.DataFrame(golden)


# ---------------------------------------------------------------------------
# generate + materialize
# ---------------------------------------------------------------------------
def codec_image_count(n_images: int) -> int:
    """Rows of the codec_images table for an n_images scale: half the images,
    whole groups of six formats, at least three groups."""
    return max(18, (n_images // 2) // 6 * 6)


def generate_media(n_audio: int, n_video: int, n_images: int,
                   cfg: DedupConfig | None = None) -> MediaSynthResult:
    cfg = cfg or DedupConfig()
    audio, golden_audio, _ = _gen_audio(n_audio)
    video, golden_frames, golden_pairs = _gen_video(n_video, cfg)
    images, golden_resize = _gen_images(n_images)
    codec_images, golden_codec = _gen_codec_images(codec_image_count(n_images))
    return MediaSynthResult(audio, video, images, codec_images, golden_audio,
                            golden_frames, golden_pairs, golden_resize,
                            golden_codec)


def materialize_media(out_dir: str, n_audio: int, n_video: int, n_images: int,
                      cfg: DedupConfig | None = None) -> None:
    """Write fixture + golden tables as parquet under out_dir (idempotent)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = cfg or DedupConfig()
    os.makedirs(out_dir, exist_ok=True)
    marker = os.path.join(
        out_dir,
        f"_MEDIA_v{MEDIA_SYNTH_VERSION}_{n_audio}_{n_video}_{n_images}_{cfg.config_hash()}",
    )
    if os.path.exists(marker):
        return
    r = generate_media(n_audio, n_video, n_images, cfg)

    def _write(df: pd.DataFrame, name: str, schema: pa.Schema) -> None:
        cols = {f.name: pa.array(
            [None if pd.isna(v) else v for v in df[f.name]], type=f.type
        ) for f in schema} if len(df) else {f.name: pa.array([], type=f.type)
                                            for f in schema}
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(out_dir, f"{name}.parquet"))

    _write(r.audio, "audio", pa.schema(
        [("audio_id", pa.string()), ("bytes", pa.binary())]))
    _write(r.video, "video", pa.schema(
        [("video_id", pa.string()), ("bytes", pa.binary())]))
    _write(r.media_images, "media_images", pa.schema(
        [("image_id", pa.string()), ("bytes", pa.binary())]))
    _write(r.codec_images, "codec_images", pa.schema(
        [("image_id", pa.string()), ("fmt", pa.string()),
         ("bytes", pa.binary())]))
    _write(r.golden_audio, "golden_audio", pa.schema(
        [("audio_id", pa.string()), ("duration_s", pa.float64()),
         ("sample_rate", pa.int32()), ("channels", pa.int32()),
         ("rms", pa.float64()), ("zcr", pa.float64()),
         ("fingerprint", pa.int64())]))
    _write(r.golden_frames, "golden_frames", pa.schema(
        [("video_id", pa.string()), ("frame_idx", pa.int32()),
         ("n_frames", pa.int32()), ("phash", pa.int64()),
         ("simhash", pa.int64())]))
    _write(r.golden_video_pairs, "golden_video_pairs", pa.schema(
        [("id_l", pa.string()), ("id_r", pa.string()),
         ("shared_frames", pa.int64())]))
    _write(r.golden_resize, "golden_resize", pa.schema(
        [("image_id", pa.string()), ("w", pa.int32()), ("h", pa.int32()),
         ("fmt", pa.string()), ("payload_sha", pa.string())]))
    _write(r.golden_codec, "golden_codec", pa.schema(
        [("image_id", pa.string()), ("fmt", pa.string()),
         ("pixel_sha", pa.string())]))
    with open(marker, "w") as f:
        f.write("ok\n")
