"""Image codec layer.

The container has no image libraries (no Pillow / libjpeg), so the engine ships
a deterministic stand-in codec with the semantics that matter to the dedup
pipeline — a lossless format ("png") and a lossy format ("jpeg") whose
re-encode error stays above the PSNR>=40dB allclose gate. The Spark-side
plumbing (binary columns, Arrow batches, pandas-UDF signatures) is identical to
what a real decoder would use. `decode_image` dispatches real magic as:
real PNG -> Pillow if importable, else the pure numpy+zlib decoder in
functions/png.py; real JPEG -> Pillow if importable, else the pure numpy
baseline T.81 decoder in functions/jpeg.py; real GIF -> functions/gif.py
(LZW + palette); real BMP -> functions/bmp.py (BI_RGB 8/24/32-bit); real
TIFF -> functions/tiff.py (baseline strips, none/LZW/PackBits); real
netpbm PPM/PGM -> functions/pnm.py — all six real formats are
first-class in THIS container, not gated.

Formats (all little-endian):
  lossless: b"DPNG" u16 h u16 w u8 c  zlib(raw HxWxC uint8)
  lossy:    b"DJPG" u16 h u16 w u8 c u8 step  zlib((raw // step) uint8)

Lossy decode reconstructs `q * step + step//2` (mid-rise dequantization).
Uniform quantization with step s has RMSE ~= s/sqrt(12); at the default step 4
that is PSNR ~= 20*log10(255 / 1.15) ~= 46.9 dB — comfortably above the 40 dB
gate, mirroring a high-quality JPEG re-encode.

Role in the reference: dupion hashes raw file bytes (blake3 at
dupion/src/driver/platterwalker.rs:268-344); the graft hashes *decoded pixels*
(input_hint), so byte-different re-encodes of the same image still collide.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np

MAGIC_LOSSLESS = b"DPNG"
MAGIC_LOSSY = b"DJPG"
DEFAULT_LOSSY_STEP = 4

try:  # real decoders, if ever present in the environment
    import PIL.Image  # type: ignore

    _HAVE_PIL = True
except Exception:  # pragma: no cover - container has no Pillow
    _HAVE_PIL = False


def encode_png(pixels: np.ndarray) -> bytes:
    """Losslessly encode an HxWxC uint8 array."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, c = pixels.shape
    header = MAGIC_LOSSLESS + struct.pack("<HHB", h, w, c)
    return header + zlib.compress(pixels.tobytes(), level=6)


def encode_jpeg(pixels: np.ndarray, step: int = DEFAULT_LOSSY_STEP) -> bytes:
    """Lossily encode an HxWxC uint8 array (uniform quantization, step>=1)."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, c = pixels.shape
    header = MAGIC_LOSSY + struct.pack("<HHBB", h, w, c, step)
    quantized = (pixels // step).astype(np.uint8)
    return header + zlib.compress(quantized.tobytes(), level=6)


def decode_image(data: bytes) -> np.ndarray:
    """Decode bytes -> HxWxC uint8 pixel array. Dispatches on magic."""
    if data[:4] == MAGIC_LOSSLESS:
        h, w, c = struct.unpack("<HHB", data[4:9])
        raw = zlib.decompress(data[9:])
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, c)
    if data[:4] == MAGIC_LOSSY:
        h, w, c, step = struct.unpack("<HHBB", data[4:10])
        quantized = np.frombuffer(zlib.decompress(data[10:]), dtype=np.uint8)
        restored = quantized.astype(np.uint16) * step + step // 2
        return np.minimum(restored, 255).astype(np.uint8).reshape(h, w, c)
    if (
        data[:8] == b"\x89PNG\r\n\x1a\n"
        or data[:3] == b"\xff\xd8\xff"
        or data[:6] in (b"GIF87a", b"GIF89a")
        or data[:2] == b"BM"
        or data[:4] in (b"II*\x00", b"MM\x00*")
        or data[:2] in (b"P5", b"P6")
    ):
        if _HAVE_PIL:  # pragma: no cover - not available in this container
            import io

            with PIL.Image.open(io.BytesIO(data)) as img:
                return np.asarray(img.convert("RGB"), dtype=np.uint8)
        if data[:8] == b"\x89PNG\r\n\x1a\n":
            # real PNG decodes WITHOUT Pillow: pure numpy+zlib chunk parser +
            # scanline unfilter (functions/png.py) — the real-codec branch is
            # proven in this container, not just Pillow-gated
            from dupion_spark.functions.png import decode_real_png

            return decode_real_png(data)
        if data[:3] == b"\xff\xd8\xff":
            # real JPEG decodes WITHOUT Pillow too: pure numpy
            # baseline-sequential T.81 decoder (functions/jpeg.py) — Pillow
            # (libjpeg-turbo) stays the preferred path above when importable
            from dupion_spark.functions.jpeg import decode_real_jpeg

            return decode_real_jpeg(data)
        if data[:2] == b"BM":
            # real BMP: BI_RGB 8/24/32-bit (functions/bmp.py)
            from dupion_spark.functions.bmp import decode_real_bmp

            return decode_real_bmp(data)
        if data[:4] in (b"II*\x00", b"MM\x00*"):
            # real TIFF: baseline strips, none/LZW/PackBits (functions/tiff.py)
            from dupion_spark.functions.tiff import decode_real_tiff

            return decode_real_tiff(data)
        if data[:2] in (b"P5", b"P6"):
            # real netpbm PGM/PPM (functions/pnm.py)
            from dupion_spark.functions.pnm import decode_real_pnm

            return decode_real_pnm(data)
        # real GIF: LZW + palette, first frame (functions/gif.py)
        from dupion_spark.functions.gif import decode_real_gif

        return decode_real_gif(data)
    raise ValueError(f"unknown image magic: {data[:4]!r}")


def try_decode_image(data: bytes) -> np.ndarray | None:
    """decode_image, but None for undecodable payloads (unknown magic,
    truncated/corrupt bytes, containers). At corpus scale a corrupt row must
    degrade to byte-hash-only handling (F4 validity semantics), never kill
    the job."""
    try:
        return decode_image(data)
    except (ValueError, NotImplementedError, zlib.error, struct.error):
        return None


def pixel_sha256(pixels: np.ndarray) -> bytes:
    """SHA-256 of the canonical decoded pixel buffer (32 bytes): the raw
    HxWxC uint8 array prefixed by its shape, so two encodings decode-equal
    iff their hashes match (dupion's blake3-of-bytes becomes
    sha256-of-pixels per input_hint)."""
    h, w, c = pixels.shape
    hasher = hashlib.sha256()
    hasher.update(f"{h}x{w}x{c}:".encode())
    hasher.update(pixels.tobytes())
    return hasher.digest()


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 arrays.

    Returns inf for identical arrays; -inf for shape mismatches (never similar).
    """
    if a.shape != b.shape:
        return float("-inf")
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)
