"""Signature functions: pHash, SimHash, caption MinHash.

Pure-numpy implementations shared verbatim between (a) the Spark pandas UDFs,
(b) the synth fixture generator, and (c) the single-process recall oracle —
this is how "identical shingle/signature/band config" (BASELINE.json) is kept
true by construction rather than by convention.

Reference lineage: dupion has a single signature — blake3 of raw bytes
(dupion/src/driver/platterwalker.rs:268-344). The graft generalizes the
"cheap key first, expensive compare second" staging (dupion/src/state/mod.rs:95-111)
with locality-sensitive keys so near-duplicates also collide.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np

from dupion_spark.config import MERSENNE_31, DedupConfig


# --------------------------------------------------------------------------
# shared 60-bit string hash — the cross-engine primitive.
# Spark:  conv(substr(md5(x), 1, 15), 16, 10)   (JVM-side, codegen'd)
# DuckDB: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
# numpy/oracle: this function.
# --------------------------------------------------------------------------
def md5_60bit(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def char_shingles(text: str, k: int) -> list[str]:
    """Distinct character k-shingles; texts shorter than k yield the text itself."""
    if len(text) < k:
        return [text]
    return sorted({text[i : i + k] for i in range(len(text) - k + 1)})


# MinHash shingle hashing: splitmix64-style chaining over the shingle's code
# points, vectorized ACROSS every shingle of every caption in an Arrow batch
# (minhash_signatures_batch) — replaces a per-shingle `hashlib.md5` call in
# the feature-extraction row loop (~1 interpreter call per caption character,
# the dominant non-decode CPU at 10^12 rows; the vectorized simhash migration
# measured ~90x for the same md5->splitmix swap). NOT oracle-shared:
# image-caption minhash values feed only the internal LSH band keys, so the
# mix function is free to choose (golden cluster oracles assert planted
# structure, not hash values). The md5_60bit primitive above remains the
# cross-engine hash for the SQL-oracle document path (queries.py), which is a
# separate, SQL-expressed implementation.
_MH_SEED = np.uint64(0x51_7C_C1_B7_27_22_0A_95)
_MH_MULT = np.uint64(0xC2B2AE3D27D4EB4F)
_PAD_CP = np.uint64(0x110000)  # above any valid unicode code point


def _splitmix_chain(windows: np.ndarray) -> np.ndarray:
    """(n_windows, k) uint64 code-point windows -> (n_windows,) uint64 hashes."""
    with np.errstate(over="ignore"):
        x = np.full(windows.shape[0], _MH_SEED, dtype=np.uint64)
        for j in range(windows.shape[1]):
            x ^= windows[:, j] * _MH_MULT
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(31)
    return x


@lru_cache(maxsize=8)
def _minhash_params_array(seed: int, k: int) -> np.ndarray:
    """cfg.minhash_params() as a cached uint64 array — the derivation runs 64
    sha256 calls, which dominated the per-caption cost when recomputed per
    row inside the feature UDF loop."""
    from dupion_spark.config import DedupConfig as _Cfg

    cfg = _Cfg(minhash_seed=seed, minhash_k=k)
    return np.array(cfg.minhash_params(), dtype=np.uint64)


def minhash_signatures_batch(texts, cfg: DedupConfig) -> np.ndarray:
    """MinHash signatures for a whole batch of texts at once -> (n, minhash_k)
    int64. One flat window array + per-hash `np.minimum.reduceat` segment
    mins, so the numpy call overhead amortizes over the batch (~10x the
    per-text path on Arrow-batch-sized inputs).

    h_i(shingle) = (a_i * (hash64(shingle) % M31) + b_i) mod M31, minimized
    over the text's character k-shingles (as a multiset — min is duplicate-
    insensitive). Texts shorter than k hash as one shingle, padded to k with
    an out-of-range sentinel code point. Arithmetic fits uint64
    (a, base < 2^31), matching SQL BIGINT."""
    k = cfg.shingle_k
    n = len(texts)
    if n == 0:
        return np.empty((0, cfg.minhash_k), dtype=np.int64)
    # ONE concatenated code-point array with k-1 pad sentinels between texts:
    # a single sliding_window_view covers every text's windows as a view (a
    # per-text window-copy loop measured 3x the cost of everything else);
    # a short text's single window reads its chars + trailing pads, which IS
    # the pad-to-k semantics. Valid window start offsets are computed
    # vectorized and gathered once.
    pad_char = int(_PAD_CP).to_bytes(4, "little")
    # empty texts encode as ONE pad char so their window never reads the
    # neighbor text's chars — hashing must not depend on batch composition
    # (each input layout batches rows by its own row groups)
    encoded = [(t or "").encode("utf-32-le") or pad_char for t in texts]
    lens = np.array([len(e) // 4 for e in encoded], dtype=np.int64)
    pad_seq = pad_char * (k - 1)
    concat = np.frombuffer(
        b"".join(e + pad_seq for e in encoded) + pad_seq, dtype=np.uint32
    ).astype(np.uint64)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1] + (k - 1), out=offs[1:])
    counts = np.maximum(lens - k + 1, 1)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    # window index w (0..sum(counts)) -> concat offset: offs[i] + (w - starts[i])
    total = int(counts.sum())
    owner_off = np.repeat(offs - starts, counts)
    valid_idx = np.arange(total, dtype=np.int64) + owner_off
    windows = np.lib.stride_tricks.sliding_window_view(concat, k)[valid_idx]
    bases = _splitmix_chain(windows) % np.uint64(MERSENNE_31)
    params = _minhash_params_array(cfg.minhash_seed, cfg.minhash_k)
    m31 = np.uint64(MERSENNE_31)
    sig = np.empty((n, cfg.minhash_k), dtype=np.int64)
    with np.errstate(over="ignore"):
        for i in range(cfg.minhash_k):
            x = (params[i, 0] * bases + params[i, 1]) % m31
            sig[:, i] = np.minimum.reduceat(x, starts).astype(np.int64)
    return sig


def minhash_signature(text: str, cfg: DedupConfig) -> np.ndarray:
    """Single-text wrapper over minhash_signatures_batch (same values by
    construction — the per-row oracle and the batched feature pass must
    agree)."""
    return minhash_signatures_batch([text], cfg)[0]


def minhash_bands(signature: np.ndarray, cfg: DedupConfig) -> list[int]:
    """Collapse each band of `minhash_rows` signature slots into one 60-bit key."""
    keys = []
    for band in range(cfg.minhash_bands):
        chunk = signature[band * cfg.minhash_rows : (band + 1) * cfg.minhash_rows]
        keys.append(md5_60bit(",".join(str(int(v)) for v in chunk)))
    return keys


# --------------------------------------------------------------------------
# pixel block features
# --------------------------------------------------------------------------
def _gray(pixels: np.ndarray) -> np.ndarray:
    """HxWxC uint8 -> HxW float64 luma."""
    if pixels.ndim == 2:
        return pixels.astype(np.float64)
    if pixels.shape[2] == 1:
        return pixels[:, :, 0].astype(np.float64)
    p = pixels.astype(np.float64)
    return 0.299 * p[:, :, 0] + 0.587 * p[:, :, 1] + 0.114 * p[:, :, 2]


def _integral(gray: np.ndarray) -> np.ndarray:
    """Zero-padded integral image of a 2-D array."""
    h, w = gray.shape
    integral = np.zeros((h + 1, w + 1), dtype=np.float64)
    integral[1:, 1:] = gray.cumsum(axis=0).cumsum(axis=1)
    return integral


def _box_means(integral: np.ndarray, size: int) -> np.ndarray:
    """size x size exact box means from a precomputed integral image.

    Shared between pHash (32x32) and SimHash (16x16): the gray conversion +
    integral are ~60% of per-image signature cost, so the one-pass
    `pixel_signatures` computes them once for both (bit-identical results —
    same arithmetic, same intermediate)."""
    h, w = integral.shape[0] - 1, integral.shape[1] - 1
    row_idx = (np.arange(size + 1) * h) // size
    col_idx = (np.arange(size + 1) * w) // size
    r0, r1 = row_idx[:-1], np.maximum(row_idx[1:], row_idx[:-1] + 1)
    c0, c1 = col_idx[:-1], np.maximum(col_idx[1:], col_idx[:-1] + 1)
    r1 = np.minimum(r1, h)
    c1 = np.minimum(c1, w)
    sums = (
        integral[np.ix_(r1, c1)]
        - integral[np.ix_(r0, c1)]
        - integral[np.ix_(r1, c0)]
        + integral[np.ix_(r0, c0)]
    )
    areas = np.outer(r1 - r0, c1 - c0).astype(np.float64)
    areas[areas == 0] = 1.0
    return sums / areas


def _resize_mean(gray: np.ndarray, size: int) -> np.ndarray:
    """Area-mean resize of a 2-D array to size x size (handles any H, W >= 1)."""
    return _box_means(_integral(gray), size)


@lru_cache(maxsize=8)
def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (no scipy in the container)."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    mat = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2.0 * n))
    mat[0, :] = np.sqrt(1.0 / n)
    return mat


def _phash_from_means(means: np.ndarray, cfg: DedupConfig) -> int:
    dct_mat = _dct_matrix(cfg.phash_dct_size)
    coeffs = dct_mat @ means @ dct_mat.T
    low = coeffs[: cfg.phash_low_freq, : cfg.phash_low_freq].flatten()
    median = np.median(low[1:])  # skip DC term for the threshold
    bits = np.where(low > median, 1, 0)
    bits[0] = 0  # DC position fixed so the hash is brightness-invariant
    value = 0
    for bit in bits:
        value = (value << 1) | int(bit)
    return np.int64(np.uint64(value)).item()  # wrap to signed


def phash64(pixels: np.ndarray, cfg: DedupConfig) -> int:
    """64-bit perceptual hash: resize -> 2-D DCT -> top-left low-freq block ->
    median threshold. Returned as a *signed* int64 (parquet/Spark LongType)."""
    return _phash_from_means(_resize_mean(_gray(pixels), cfg.phash_dct_size), cfg)


def simhash64(pixels: np.ndarray, cfg: DedupConfig) -> int:
    """64-bit SimHash over quantized block-mean features.

    Features are (block_index, mean // 32); each feature's md5-derived 64-bit
    pattern votes +1/-1 per bit position. The feature count (grid^2 = 256) and
    the coarse 32-step quantization are chosen together: simhash hamming
    distance scales with the FRACTION of changed features, so many features +
    few boundary crossings keeps re-encode noise within the multiprobe LSH
    catch radius (<= 11 bits at 4 bands, probe_bits=1).
    """
    return _simhash_from_means(_resize_mean(_gray(pixels), cfg.simhash_grid))


def _simhash_from_means(means: np.ndarray) -> int:
    quantized = (means // 32).astype(np.uint64).flatten()
    idx = np.arange(quantized.size, dtype=np.uint64)
    # splitmix64-style mix of (block_index, quantized_value) — fully
    # vectorized (the md5-per-feature version cost 4.6 ms/image; this is
    # ~0.05 ms). Not oracle-shared, so the mix function is free to choose.
    with np.errstate(over="ignore"):
        x = (idx * np.uint64(0x9E3779B97F4A7C15)) ^ (
            (quantized + np.uint64(0xD1B54A32D192ED03)) * np.uint64(0xBF58476D1CE4E5B9)
        )
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    bits = (x[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    positive = votes > 0
    value = np.uint64(0)
    for bit in np.nonzero(positive)[0]:
        value |= np.uint64(1) << np.uint64(bit)
    return np.int64(value).item()


def pixel_signatures(pixels: np.ndarray, cfg: DedupConfig) -> tuple[int, int]:
    """(simhash64, phash64) in ONE pass: gray conversion + integral image are
    ~60% of per-image signature cost and both hashes derive their box means
    from the same integral — bit-identical to calling the two functions
    separately (same arithmetic, same intermediates)."""
    integral = _integral(_gray(pixels))
    sh = _simhash_from_means(_box_means(integral, cfg.simhash_grid))
    ph = _phash_from_means(_box_means(integral, cfg.phash_dct_size), cfg)
    return sh, ph


# --------------------------------------------------------------------------
# batched pixel signatures: same arithmetic as pixel_signatures, amortized
# over a stack of SAME-SHAPE images. Per-image signature cost is dominated by
# numpy call overhead on small (96-160 px) images — ~25 tiny-array ops per
# image — so stacking images that share (h, w, c) and running each op once on
# the (m, ...) stack cuts the feature stage's dominant CPU term ~4x.
# Real corpora cluster heavily on a few common dimensions (thumbnails,
# fixed-size crops), so shape groups are large in practice; a shape seen once
# still runs the identical math at m=1.
#
# Bit-parity argument (asserted exhaustively by
# tests/test_signatures.py::test_batch_matches_per_image):
#   * gray / mix / box arithmetic is elementwise -> order-identical;
#   * np.cumsum is sequential along its axis, per-image independent;
#   * integer vote sums and uint64 bit packs are exact in any order;
#   * np.median over 63 elems is an order statistic (no averaging);
#   * the phash DCT matmul runs PER IMAGE on a contiguous (s, s) slice —
#     the one op whose batched BLAS kernel could round differently is kept
#     in 2-D form so the dgemm call is byte-identical to the scalar path.
# --------------------------------------------------------------------------
def _box_means_batch(integral: np.ndarray, size: int) -> np.ndarray:
    """(m, h+1, w+1) stacked integrals -> (m, size, size) box means."""
    h, w = integral.shape[1] - 1, integral.shape[2] - 1
    row_idx = (np.arange(size + 1) * h) // size
    col_idx = (np.arange(size + 1) * w) // size
    r0, r1 = row_idx[:-1], np.maximum(row_idx[1:], row_idx[:-1] + 1)
    c0, c1 = col_idx[:-1], np.maximum(col_idx[1:], col_idx[:-1] + 1)
    r1 = np.minimum(r1, h)
    c1 = np.minimum(c1, w)
    ri1, ci1 = r1[:, None], c1[None, :]
    ri0, ci0 = r0[:, None], c0[None, :]
    sums = (
        integral[:, ri1, ci1]
        - integral[:, ri0, ci1]
        - integral[:, ri1, ci0]
        + integral[:, ri0, ci0]
    )
    areas = np.outer(r1 - r0, c1 - c0).astype(np.float64)
    areas[areas == 0] = 1.0
    return sums / areas


def _simhash_from_means_batch(means: np.ndarray) -> np.ndarray:
    """(m, s, s) means -> (m,) int64 simhash values."""
    m = means.shape[0]
    quantized = (means // 32).astype(np.uint64).reshape(m, -1)
    idx = np.arange(quantized.shape[1], dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = (idx[None, :] * np.uint64(0x9E3779B97F4A7C15)) ^ (
            (quantized + np.uint64(0xD1B54A32D192ED03))
            * np.uint64(0xBF58476D1CE4E5B9)
        )
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    shifts = np.arange(64, dtype=np.uint64)[None, None, :]
    bits = ((x[:, :, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    ones = bits.sum(axis=1, dtype=np.int64)  # (m, 64)
    # per-image votes = (2*bits - 1).sum = 2*ones - n_features; same sign test
    positive = (2 * ones - quantized.shape[1]) > 0
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    vals = (positive.astype(np.uint64) * weights[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    return vals.astype(np.int64)


def _phash_from_means_batch(means: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """(m, s, s) means -> (m,) int64 phash values (DCT matmul kept per-image
    2-D so BLAS rounding matches the scalar path exactly)."""
    dct_mat = _dct_matrix(cfg.phash_dct_size)
    m, lf = means.shape[0], cfg.phash_low_freq
    low = np.empty((m, lf * lf), dtype=np.float64)
    for t in range(m):
        coeffs = dct_mat @ means[t] @ dct_mat.T
        low[t] = coeffs[:lf, :lf].flatten()
    median = np.median(low[:, 1:], axis=1)
    bits = (low > median[:, None]).astype(np.uint64)
    bits[:, 0] = 0  # DC position fixed so the hash is brightness-invariant
    # per-image pack is MSB-first: value = (value << 1) | bit
    weights = np.uint64(1) << np.arange(
        lf * lf - 1, -1, -1, dtype=np.uint64
    )
    vals = (bits * weights[None, :]).sum(axis=1, dtype=np.uint64)
    return vals.astype(np.int64)


# stack chunk size, swept empirically (this box, 128 px images): 4 -> 0.513,
# 8 -> 0.474, 16 -> 0.459, 32 -> 0.491, 128 -> 1.031, 2048 -> 3.0 ms/img vs
# 0.574 scalar. Small chunks win because the float64 gray/integral
# temporaries must stay cache-resident — big stacks turn the same arithmetic
# into fresh-page memory traffic (page-fault-bound, 5x SLOWER than scalar).
# The batch win is therefore modest (~20% of the signature term) and comes
# from amortizing the ~25 per-image numpy calls, not from wider vectors.
_SIG_BATCH_CHUNK = 16


def pixel_signatures_batch(
    pixel_list: list, cfg: DedupConfig
) -> tuple[list, list]:
    """Batched pixel_signatures over a list of decoded images (None entries
    allowed — F4 rows keep None signatures). Returns (simhash_list,
    phash_list) aligned with the input; values are bit-identical to calling
    pixel_signatures per image."""
    n = len(pixel_list)
    sh_out: list = [None] * n
    ph_out: list = [None] * n
    by_shape: dict = {}
    for i, p in enumerate(pixel_list):
        if p is None:
            continue
        by_shape.setdefault(p.shape, []).append(i)
    for _shape, idxs in by_shape.items():
        for lo in range(0, len(idxs), _SIG_BATCH_CHUNK):
            chunk = idxs[lo : lo + _SIG_BATCH_CHUNK]
            stack = np.stack([pixel_list[i] for i in chunk])
            if stack.ndim == 3:
                gray = stack.astype(np.float64)
            elif stack.shape[3] == 1:
                gray = stack[:, :, :, 0].astype(np.float64)
            else:
                p = stack.astype(np.float64)
                gray = (
                    0.299 * p[..., 0] + 0.587 * p[..., 1] + 0.114 * p[..., 2]
                )
            m, h, w = gray.shape
            integral = np.zeros((m, h + 1, w + 1), dtype=np.float64)
            integral[:, 1:, 1:] = gray.cumsum(axis=1).cumsum(axis=2)
            shs = _simhash_from_means_batch(
                _box_means_batch(integral, cfg.simhash_grid)
            )
            phs = _phash_from_means_batch(
                _box_means_batch(integral, cfg.phash_dct_size), cfg
            )
            for j, sv, pv in zip(chunk, shs, phs):
                sh_out[j] = int(sv)
                ph_out[j] = int(pv)
    return sh_out, ph_out


def hash64_bands(value: int, n_bands: int) -> list[int]:
    """Split a 64-bit (signed) hash into n_bands contiguous bit-slices.

    With d differing bits, pigeonhole guarantees a clean shared band whenever
    d < n_bands — the LSH recall guarantee for small hamming distances.
    """
    unsigned = int(np.uint64(np.int64(value)))
    width = 64 // n_bands
    mask = (1 << width) - 1
    return [(unsigned >> (band * width)) & mask for band in range(n_bands)]


def hash64_band_probes(value: int, n_bands: int, probe_bits: int) -> list[tuple[int, int]]:
    """Multiprobe band keys: (band_idx, probe_val) for the exact band value
    plus every value within `probe_bits` single-bit flips (probe_bits<=1).

    Two values collide on band i iff their band slices differ in at most
    2*probe_bits bits; with b bands and total hamming d, some band carries
    <= floor(d/b) diffs, so collisions are guaranteed for d <= b*(2*probe_bits)+b-1."""
    out = []
    width = 64 // n_bands
    for band_idx, band_val in enumerate(hash64_bands(value, n_bands)):
        out.append((band_idx, band_val))
        if probe_bits >= 1:
            for bit in range(width):
                out.append((band_idx, band_val ^ (1 << bit)))
    return out


def hamming64(a: int, b: int) -> int:
    return bin(int(np.uint64(np.int64(a))) ^ int(np.uint64(np.int64(b)))).count("1")
