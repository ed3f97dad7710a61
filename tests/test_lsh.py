"""Candidate-pair generation: over-cap bucket recall (the round-2 latent hole).

Scenario (VERDICT r2 "What's wrong" #2): a genuine near pair (phash hamming
<= 11, guaranteed a shared band by the multiprobe pigeonhole) whose only
shared bucket is OVER the all-pairs cap, where neither member is the bucket
hub and both sit > 12 bits from it. Filtered star links drop both hub edges,
so the pair lost all connectivity. The fix sub-bands over-cap pixel buckets
(4 disjoint 16-bit windows offset 8 bits from the band slices: 16-bit sub
keys for entropy — the round-3 ADVICE showed 8-bit sub keys saturating at
scale — and the offset re-splits crowds the aligned top-level bucketing
concentrated), which must emit the DIRECT (A, B) candidate pair. Also
proves the corpus-ADAPTIVE band plans' hamming guarantees (4/3/2 bands ->
11/8/5).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PythonException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dupion_spark import queries as Q
from dupion_spark.config import DedupConfig
from dupion_spark.operators import lsh
from dupion_spark.sources.checkpoint import counted_checkpoint

SIG_SCHEMA = T.StructType(
    [
        T.StructField("rep_id", T.StringType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("minhash", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("sid", T.LongType()),
    ]
)


def _sigs(spark, rows):
    """Signature frame with sids assigned in rep_id order, so every bucket's
    minimum-sid hub is its minimum-id member."""
    order = {rep_id: sid for sid, rep_id in enumerate(sorted(r[0] for r in rows))}
    return spark.createDataFrame([(*r, order[r[0]]) for r in rows], SIG_SCHEMA)


def _pairs(sigs, cfg, bands=None, n_reps=None):
    """Collected candidate pairs over string ids (the sid -> rep_id map
    restores them, as the pipeline's outputs do)."""
    if bands is None:
        bands = lsh.band_table(sigs, cfg, n_reps=n_reps)
    pairs = lsh.candidate_pairs(bands, cfg, n_reps=n_reps)
    ml = sigs.select(F.col("sid").alias("id_l"), F.col("rep_id").alias("_l"))
    mr = sigs.select(F.col("sid").alias("id_r"), F.col("rep_id").alias("_r"))
    return (
        pairs.join(ml, "id_l").join(mr, "id_r")
        .select(F.least("_l", "_r").alias("id_l"), F.greatest("_l", "_r").alias("id_r"),
                "band_src")
        .collect()
    )


def _signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _ham(a: int, b: int) -> int:
    return bin((a & ((1 << 64) - 1)) ^ (b & ((1 << 64) - 1))).count("1")


def _phash(b0: int, b1: int, b2: int, b3: int) -> int:
    return _signed(b0 | (b1 << 16) | (b2 << 32) | (b3 << 48))


def _rows():
    """22 members of one over-cap band-0 bucket (shared 16-bit slice 0x1234):
    20 flood members + the near pair (A, B). A and B agree exactly on band 0,
    differ 3 bits in each of bands 1-3 (total hamming 9 <= 11, and >= 3 per
    band so NO other top-level band collides even with 1-bit probes). Every
    flood member (including the bucket-min hub f00) is ~48 bits from both A
    and B, so hub-hamming-filtered star links would drop the pair."""
    rows = []
    for i in range(20):
        ph = _phash(0x1234, 0x5555 ^ (i * 0x0101), 0x6666 ^ (i * 0x0303),
                    0x7777 ^ (i * 0x0505))
        sh = _signed(0x0123_4567_89AB_CDEF ^ (i * 0x1111_2222_3333_4444))
        mh = [1_000_000 + i * 64 + j for j in range(64)]
        rows.append((f"f{i:02d}", 64, 64, mh, sh, ph))
    ph_a = _phash(0x1234, 0xAAAA, 0xBBBB, 0xCCCC)
    ph_b = _phash(0x1234, 0xAAAA ^ 0x7, 0xBBBB ^ 0x7, 0xCCCC ^ 0x7)
    # simhashes with every 16-bit slice distinct -> no simhash band collision
    rows.append(("x_a", 64, 64, [2_000_000 + j for j in range(64)],
                 _signed(0x0F0F_0F0F_0F0F_0F0F), ph_a))
    rows.append(("x_b", 64, 64, [3_000_000 + j for j in range(64)],
                 _signed(0xF0F0_F0F0_F0F0_F0F0), ph_b))
    return rows


# small pixel cap so the 22-member bucket exercises the over-cap sub-band
# cascade (the default 256 cap would all-pairs it directly)
CFG = DedupConfig(max_band_bucket=16)


@pytest.fixture(scope="module")
def planted_pairs(spark):
    return _pairs(_sigs(spark, _rows()), CFG)


def test_hamming(spark):
    a = next(r for r in _rows() if r[0] == "x_a")
    b = next(r for r in _rows() if r[0] == "x_b")
    assert _ham(a[5], b[5]) == 9
    hub = next(r for r in _rows() if r[0] == "f00")
    for x in (a, b):
        assert _ham(hub[5], x[5]) > 12


def test_overcap_near_pair_survives(planted_pairs):
    got = {(r["id_l"], r["id_r"]) for r in planted_pairs}
    assert ("x_a", "x_b") in got


def test_overcap_bucket_is_actually_overcap(spark):
    sigs = _sigs(spark, _rows())
    bands = lsh.band_table(sigs, CFG)
    from pyspark.sql import functions as F

    sizes = bands.groupBy("band_key").count().agg(F.max("count")).collect()[0][0]
    assert sizes == 22 > CFG.max_band_bucket


def test_overcap_key_outside_known_classes_raises(spark):
    """A null band_key fails loudly in the bucket kernel instead of being
    bucketed with every other null."""
    sigs = _sigs(spark, _rows())
    bands = lsh.band_table(sigs, CFG)
    unclassed = bands.withColumn("band_key", F.lit(None).cast("long"))
    with pytest.raises(PythonException, match="null band_key"):
        _pairs(sigs, CFG, bands=bands.unionByName(unclassed))


# --- no-Spark property tests of the recall guarantees ----------------------
# Replicate the band/probe/sub-band key math in plain python and check the
# pigeonhole claims the pipeline's docstrings make, over random pairs.
def _top_level_buckets(ph: int, w: int = 64, h: int = 64) -> set:
    """(band, probe_val) set a phash emits at 4x16-bit bands, 1-bit probes."""
    out = set()
    u = ph & ((1 << 64) - 1)
    for band in range(4):
        val = (u >> (band * 16)) & 0xFFFF
        out.add((band, val))
        for bit in range(16):
            out.add((band, val ^ (1 << bit)))
    return out


def _sub_buckets(ph: int) -> set:
    """(sub, probe_val) set at 4 disjoint 16-bit windows offset 8 bits from
    the top-level band slices (window s = bits [16s+8, 16s+23] mod 64),
    1-bit probes — the second-level cascade for over-cap pixel buckets.
    Disjoint pigeonhole: hamming d => some window with <= floor(d/4) diffs
    (= 2 at d <= 11, inside the symmetric 1-bit probe radius)."""
    out = set()
    u = ph & ((1 << 64) - 1)
    for sub in range(4):
        lo = (u >> (sub * 16 + 8)) & 0xFF
        hi = (u >> ((sub * 16 + 16) % 64)) & 0xFF
        val = (hi << 8) | lo
        out.add((sub, val))
        for bit in range(16):
            out.add((sub, val ^ (1 << bit)))
    return out


def _plan_buckets(ph: int, n_bands: int) -> set:
    """Top-level probe-bucket set under the ADAPTIVE plan's n_bands
    (width = 64 // n_bands, 1-bit probes) — mirrors lsh.band_keys' phash
    family."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    out = set()
    u = ph & ((1 << 64) - 1)
    for band in range(n_bands):
        val = (u >> (band * width)) & mask
        out.add((band, val))
        for bit in range(width):
            out.add((band, val ^ (1 << bit)))
    return out


def test_multiprobe_guarantee_hamming_11():
    """Any pair at hamming <= 11 shares a top-level probe bucket AND a
    sub-band bucket (the over-cap fallback's direct-edge guarantee)."""
    rng = np.random.default_rng(7)
    for _ in range(300):
        a = int(rng.integers(0, 1 << 63))
        d = int(rng.integers(1, 12))
        bits = rng.choice(64, size=d, replace=False)
        b = a
        for bit in bits:
            b ^= 1 << int(bit)
        assert _top_level_buckets(a) & _top_level_buckets(b), (a, b, d)
        assert _sub_buckets(a) & _sub_buckets(b), (a, b, d)


@pytest.mark.parametrize("n_bands,guarantee", [(4, 11), (3, 8), (2, 5)])
def test_adaptive_plan_guarantees(n_bands, guarantee):
    """Each adaptive band plan catches every pair within its documented
    hamming radius (guarantee = 3*bands - 1 under 1-bit symmetric probing),
    and the sub-band cascade covers the same radius."""
    rng = np.random.default_rng(n_bands)
    covered = n_bands * (64 // n_bands)  # bits the bands actually see
    for _ in range(300):
        a = int(rng.integers(0, 1 << 63))
        d = int(rng.integers(1, guarantee + 1))
        bits = rng.choice(covered, size=d, replace=False)
        b = a
        for bit in bits:
            b ^= 1 << int(bit)
        assert _plan_buckets(a, n_bands) & _plan_buckets(b, n_bands), (a, b, d)
        assert _sub_buckets(a) & _sub_buckets(b), (a, b, d)


def test_pixel_band_plan_thresholds():
    cfg = DedupConfig()
    assert cfg.pixel_band_plan(None) == 4
    assert cfg.pixel_band_plan(1_200) == 4
    assert cfg.pixel_band_plan(399_999) == 4
    assert cfg.pixel_band_plan(600_000) == 3
    assert cfg.pixel_band_plan(50_000_000) == 2
    frozen = DedupConfig(adaptive_banding=False)
    assert frozen.pixel_band_plan(50_000_000) == 4


def test_probe_sets_disjoint_beyond_radius():
    """Sanity: a pair differing >= 3 bits in EVERY band shares no top-level
    bucket (the selectivity side of the multiprobe design)."""
    a = 0
    b = 0
    for band in range(4):
        b |= 0b111 << (band * 16)
    assert not (_top_level_buckets(a) & _top_level_buckets(b))


def test_pixel_prefilter_follows_band_plan():
    """The phash prefilter radius tracks the active plan's catch guarantee
    (3*bands): an unaligned radius admits band-collision pairs the plan no
    longer guarantees to generate — measured as ~91% of verify work at 600k
    (BENCH/BASELINE.md). <= 0 stays disabled at every scale."""
    cfg = DedupConfig()
    assert cfg.pixel_prefilter(None) == 12
    assert cfg.pixel_prefilter(1_200) == 12
    assert cfg.pixel_prefilter(600_000) == 9
    assert cfg.pixel_prefilter(50_000_000) == 6
    off = DedupConfig(prefilter_hamming=0)
    assert off.pixel_prefilter(600_000) == 0
    # a configured radius TIGHTER than the plan's is respected
    tight = DedupConfig(prefilter_hamming=7)
    assert tight.pixel_prefilter(600_000) == 7


# --- double-saturation recall (the round-4 residual hole, now closed) -------
# A 20-member crowd with IDENTICAL phash P saturates every top-level bucket
# AND every sub-window bucket it touches (at cap 16). The planted near pair
# (y_a, y_b) agrees with P exactly on band 0 and window 0 — so EVERY bucket
# the pair shares, at both levels, is a crowd-saturated one — while both
# members sit 32 bits from P (every hub star edge is hamming-filtered away).
# Pre-fix, the window-0 sub-bucket star-linked to the crowd hub and the pair
# lost all connectivity; with the sub_allpairs_max window it gets a DIRECT
# all-pairs edge.
def _saturated_rows():
    ph_crowd = _phash(0x1234, 0x5555, 0x6666, 0x7777)
    rows = []
    for i in range(20):
        sh = _signed(0x0123_4567_89AB_CDEF ^ (i * 0x1111_2222_3333_4444))
        mh = [1_000_000 + i * 64 + j for j in range(64)]
        rows.append((f"f{i:02d}", 64, 64, mh, sh, ph_crowd))
    # band 0 (bits 0-15) and band-1 low byte (bits 16-23) equal P's -> the
    # pair collides with the crowd in band 0 AND window 0 (bits 8-23); all
    # other bands/windows differ from P by >= 3 bits (no probe collision)
    ph_a = _phash(0x1234, 0xAA55, 0xBBBB, 0xCCCC)
    # y_b: 3-bit flips in window 1 (bits 24-26), window 2 (40-42) and
    # window 3 (56-58) -> hamming(a, b) = 9 <= 11 but >= 3 per band/window,
    # so the pair's ONLY shared buckets are the saturated crowd ones
    ph_b = _signed(
        (ph_a & ((1 << 64) - 1)) ^ (0b111 << 24) ^ (0b111 << 40) ^ (0b111 << 56)
    )
    rows.append(("y_a", 64, 64, [2_000_000 + j for j in range(64)],
                 _signed(0x0F0F_0F0F_0F0F_0F0F), ph_a))
    rows.append(("y_b", 64, 64, [3_000_000 + j for j in range(64)],
                 _signed(0xF0F0_F0F0_F0F0_F0F0), ph_b))
    return rows


def test_double_saturation_premises(spark):
    """The fixture actually saturates BOTH levels for every bucket the pair
    shares — otherwise the direct-pair assertion below would be vacuous."""
    rows = _saturated_rows()
    by_id = {r[0]: r for r in rows}
    ph_a, ph_b = by_id["y_a"][5], by_id["y_b"][5]
    ph_crowd = by_id["f00"][5]
    assert _ham(ph_a, ph_b) == 9
    assert _ham(ph_crowd, ph_a) > 12 and _ham(ph_crowd, ph_b) > 12
    # every sub-window bucket shared by the pair also holds the full crowd
    shared_sub = _sub_buckets(ph_a) & _sub_buckets(ph_b)
    assert shared_sub and shared_sub <= _sub_buckets(ph_crowd)
    # every TOP-level bucket shared by the pair is over-cap (crowd inside)
    from pyspark.sql import functions as F

    cfg = DedupConfig(max_band_bucket=16)
    sigs = _sigs(spark, rows)
    sid = {r["rep_id"]: r["sid"] for r in sigs.collect()}
    bands = lsh.band_table(sigs, cfg)
    shared = (
        bands.groupBy("band_key")
        .agg(F.collect_set("rep_id").alias("ids"), F.count(F.lit(1)).alias("n"))
        .filter(F.array_contains("ids", sid["y_a"])
                & F.array_contains("ids", sid["y_b"]))
        .collect()
    )
    assert shared and all(r["n"] > cfg.max_band_bucket for r in shared)


def test_double_saturated_pair_keeps_direct_edge(spark):
    """Sub-buckets within sub_allpairs_max run DIRECT all-pairs: the planted
    pair survives double saturation with a 'pixel' (non-star) edge."""
    cfg = DedupConfig(max_band_bucket=16)  # default sub_allpairs_max (4096)
    sigs = _sigs(spark, _saturated_rows())
    got = {
        (r["id_l"], r["id_r"]): r["band_src"]
        for r in _pairs(sigs, cfg)
    }
    assert got.get(("y_a", "y_b")) == "pixel"


def test_mega_crowd_still_falls_back_to_stars(spark):
    """Beyond sub_allpairs_max the bounded star fallback (and its documented
    residual exposure) still engages: the crowd keeps hub-star connectivity,
    the far-from-hub pair loses its direct edge — exactly the population the
    star_only_pairs lineage metric counts."""
    # 19 < 20 so even the crowd-only sub-windows (20 members) saturate
    cfg = DedupConfig(max_band_bucket=16, sub_allpairs_max=19)
    sigs = _sigs(spark, _saturated_rows())
    got = {
        (r["id_l"], r["id_r"]): r["band_src"]
        for r in _pairs(sigs, cfg)
    }
    assert ("y_a", "y_b") not in got
    assert got.get(("f00", "f01")) == "star_pixel"


# --- exact-signature twin collapse (round-5: the 300k quadratic-verify trap) -
def test_twin_crowd_emits_linear_sig_twin_edges(spark):
    """A crowd of n members with IDENTICAL (phash, simhash) — the planted
    mega-cluster shape — must emit n-1 hamming-0 'sig_twin' delegate edges,
    never C(n,2) all-pairs: twins pass the hamming prefilter wholesale, so
    without the collapse a quadratic candidate set goes straight to
    decode-cost verify (measured pre-fix at 300k: the planted 3,000-twin
    crowd fit inside sub_allpairs_max and emitted 4,515,182 candidates,
    a 19.5-minute pairs wall)."""
    n = 40
    ph = _phash(0x1234, 0x5555, 0x6666, 0x7777)
    sh = _signed(0x0123_4567_89AB_CDEF)
    rows = [
        (f"t{i:02d}", 64, 64,
         [5_000_000 + i * 64 + j for j in range(64)], sh, ph)
        for i in range(n)
    ]
    cfg = DedupConfig(max_band_bucket=16)
    sigs = _sigs(spark, rows)
    got = _pairs(sigs, cfg)
    # delegate (min rep_id) -> every other twin, linear, and NOTHING else:
    # no C(n,2) leak through the all-pairs window or any star path
    assert sorted((r["id_l"], r["id_r"]) for r in got) == [
        ("t00", f"t{i:02d}") for i in range(1, n)
    ]
    # the hamming-0 twin label wins the provenance min-agg over star_* (so
    # these edges never inflate the star_only_pairs exposure metric)
    assert {r["band_src"] for r in got} == {"sig_twin"}


def test_twin_collapse_keeps_distinct_signature_crowds_intact(spark):
    """The collapse keys on EXACT (phash, simhash): the double-saturation
    crowd (identical phash, distinct simhash) must not collapse, and the
    planted far-from-hub pair keeps its direct all-pairs edge exactly as in
    test_double_saturated_pair_keeps_direct_edge."""
    cfg = DedupConfig(max_band_bucket=16)
    sigs = _sigs(spark, _saturated_rows())
    got = {
        (r["id_l"], r["id_r"]): r["band_src"]
        for r in _pairs(sigs, cfg)
    }
    assert got.get(("y_a", "y_b")) == "pixel"
    assert "sig_twin" not in set(got.values())


# --- simhash over-cap routing (round-5: the 1.2M pairs-wall fix) -----------
# A crowd sharing one IDENTICAL 64-bit simhash (smooth-image clumping) but
# pairwise-far phashes saturates every simhash band bucket. Pre-fix those
# members entered phash sub-banding, whose all-pairs work grew quadratically
# with the corpus (28.6e9 comparisons at 1.2M — BENCH/diag_band_sources.py);
# post-fix they take hub star links like caption buckets, which is recall-
# safe because the phash pigeonhole carries the guarantee: the planted near
# pair below sits INSIDE the over-cap simhash bucket and still gets its
# DIRECT edge from its (under-cap) phash band-0 bucket.
# The crowd shares phash window 0 (bits 8-23), so the OLD sub-banding would
# have emitted direct crowd pairs — their absence is the routing proof.
_B8 = [0x00, 0x0F, 0x33, 0x3C, 0x55, 0x5A, 0x66, 0x69]  # pairwise hamming 4


def _simhash_crowd_rows():
    sh_crowd = _signed(0xDEAD_BEEF_CAFE_F00D)
    rows = []
    for i, b in enumerate(_B8):
        ph = _signed(b | (0xABCD << 8) | (b << 24) | (b << 32) | (b << 48))
        mh = [1_000_000 + i * 64 + j for j in range(64)]
        rows.append((f"g{i:02d}", 64, 64, mh, sh_crowd, ph))
    ph_a = _phash(0x4321, 0x9999, 0x8888, 0x7777)
    ph_b = _signed(
        (ph_a & ((1 << 64) - 1)) ^ (0b111 << 16) ^ (0b111 << 32) ^ (0b111 << 48)
    )
    rows.append(("z_a", 64, 64, [2_000_000 + j for j in range(64)], sh_crowd, ph_a))
    rows.append(("z_b", 64, 64, [3_000_000 + j for j in range(64)], sh_crowd, ph_b))
    return rows


def test_simhash_crowd_premises(spark):
    """Non-vacuity: the pair is near (hamming 9), far from every crowd
    member in phash, inside over-cap simhash buckets, and its phash band-0
    bucket holds exactly the pair (under cap -> direct all-pairs)."""
    rows = _simhash_crowd_rows()
    by_id = {r[0]: r for r in rows}
    ph_a, ph_b = by_id["z_a"][5], by_id["z_b"][5]
    assert _ham(ph_a, ph_b) == 9
    for i in range(8):
        crowd_ph = by_id[f"g{i:02d}"][5]
        assert _ham(crowd_ph, ph_a) > 12 and _ham(crowd_ph, ph_b) > 12
        # no top-level phash probe collision with the pair (>= 3 bits/band)
        assert not (_top_level_buckets(crowd_ph) & _top_level_buckets(ph_a))
        assert not (_top_level_buckets(crowd_ph) & _top_level_buckets(ph_b))
        # but the OLD sub-band cascade WOULD have bucketed crowd members
        # together (shared window 0) — what the new routing must not do
        if i:
            assert _sub_buckets(crowd_ph) & _sub_buckets(by_id["g00"][5])
    from pyspark.sql import functions as F

    cfg = DedupConfig(max_band_bucket=4)
    bands = lsh.band_table(_sigs(spark, rows), cfg)
    sim_keys = bands.filter(
        (F.col("band_key").bitwiseAND(F.lit(lsh.SIMHASH_BIT)) != 0)
        & (F.col("band_key").bitwiseAND(F.lit(lsh.CAPTION_BIT)) == 0)
    )
    sizes = [r["n"] for r in
             sim_keys.groupBy("band_key").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert sizes and all(n == 10 > cfg.max_band_bucket for n in sizes)


def test_simhash_overcap_routes_to_stars_not_subbanding(spark):
    cfg = DedupConfig(max_band_bucket=4)
    sigs = _sigs(spark, _simhash_crowd_rows())
    got = {
        (r["id_l"], r["id_r"]): r["band_src"]
        for r in _pairs(sigs, cfg)
    }
    # the planted near pair keeps its DIRECT phash edge (recall unharmed)
    assert got.get(("z_a", "z_b")) == "pixel"
    # over-cap simhash buckets emit hub star links (prefilter passes: the
    # crowd shares the hub's simhash exactly)
    assert got.get(("g00", "g01")) == "star_simhash"
    assert got.get(("g00", "z_a")) == "star_simhash"
    # NO direct crowd-to-crowd pairs: sub-banding (which would have joined
    # them via the shared phash window 0) must not run for simhash buckets
    assert ("g01", "g02") not in got
    assert not any(
        l.startswith("g") and r.startswith("g") and l != "g00"
        for (l, r) in got
    )


# --- caption over-cap routing ----------------------------------------------
# Ten reps sharing one caption (identical minhash) fill every caption band
# bucket past minhash_max_bucket (8). Each member's phash sits exactly 12 bits
# from the hub's, 3 in each 16-bit band, so the phash prefilter (radius 12)
# passes while no phash band or probe collides (the 3-bit masks share at most
# one bit, so members differ from each other by >= 4 bits per band); the
# simhashes are pairwise far apart with distinct band slices. The caption
# hub stars are then the ONLY provenance of every (hub, member) pair.
_MASKS3 = [0x0007, 0x0019, 0x0061, 0x0181, 0x0601, 0x1801, 0x6001, 0x002A, 0x0052]


def _caption_crowd_rows():
    ph_hub = _phash(0x1234, 0x5555, 0x6666, 0x7777)
    flips = [0] + [m | (m << 16) | (m << 32) | (m << 48) for m in _MASKS3]
    simhashes = np.random.default_rng(7).integers(0, 1 << 63, size=10, dtype=np.int64)
    caption = [4_000_000 + j for j in range(64)]
    return [
        (f"c{i:02d}", 64, 64, caption, int(simhashes[i]),
         _signed((ph_hub & ((1 << 64) - 1)) ^ flip))
        for i, flip in enumerate(flips)
    ]


def test_caption_crowd_premises():
    rows = _caption_crowd_rows()
    hub = rows[0]
    for m in rows[1:]:
        assert _ham(hub[5], m[5]) == 12 <= DedupConfig().pixel_prefilter(None)
    for i, a in enumerate(rows):
        for b in rows[i + 1:]:
            assert not (_top_level_buckets(a[5]) & _top_level_buckets(b[5]))
            assert _ham(a[4], b[4]) > DedupConfig().simhash_prefilter_hamming
            for band in range(4):
                assert (a[4] >> (16 * band)) & 0xFFFF != (b[4] >> (16 * band)) & 0xFFFF
    assert len(rows) > DedupConfig().minhash_max_bucket


def test_caption_overcap_routes_to_stars(spark):
    got = {
        (r["id_l"], r["id_r"]): r["band_src"]
        for r in _pairs(_sigs(spark, _caption_crowd_rows()), DedupConfig())
    }
    assert got == {("c00", f"c{i:02d}"): "star_minhash" for i in range(1, 10)}


def test_bucket_links_plans_one_key_shuffle(spark):
    """For both the image and the document band table, the executed (final,
    post-AQE) plan hash-partitions the band rows on the key below the
    kernel and never broadcasts them."""
    docs = spark.createDataFrame(
        [(f"d{i:02d}", f"document {i % 5} about meadows and kestrels") for i in range(20)],
        "doc_id string, text string",
    )
    tables = {
        "image": (lsh.band_table(_sigs(spark, _rows()), CFG), "band_key"),
        "document": (Q._doc_bands(Q._minhash_sig(docs), None), "key"),
    }
    for name, (rows, key) in tables.items():
        pairs = lsh.bucket_links(rows, key, [lsh.Route(0, 16, "pixel", "star_pixel")])
        assert pairs.collect(), name  # executes this plan: AQE's final form
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        kernel = plan.index("MapInPandas")
        assert plan.index(f"Exchange hashpartitioning({key}", kernel) > kernel, f"{name}: {plan}"
        assert "BroadcastExchange" not in plan, f"{name}: {plan}"


# --- key identity: the SQL-text builder against the Column builders it
# replaced, kept here verbatim as the reference -----------------------------
CAPTION_BIT, SIMHASH_BIT = lsh.CAPTION_BIT, lsh.SIMHASH_BIT


def _caption_band_keys(cfg: DedupConfig):
    """One pre-combined 64-bit key per minhash band: xxhash64 over the band's
    signature slots directly — no md5/concat/string round-trip."""
    keys = []
    for band in range(cfg.minhash_bands):
        elems = [
            F.col("minhash").getItem(band * cfg.minhash_rows + r)
            for r in range(cfg.minhash_rows)
        ]
        keys.append(
            F.xxhash64(F.lit(f"mh:{band}"), *elems).bitwiseOR(F.lit(CAPTION_BIT))
        )
    return keys


def _hash64_band_keys(col_name: str, n_bands: int, tag: str, probe_bits: int,
                      mark_bit: int = 0):
    width = 64 // n_bands
    mask = (1 << width) - 1
    keys = []
    for band in range(n_bands):
        val = F.shiftrightunsigned(F.col(col_name), band * width).bitwiseAND(F.lit(mask))
        probes = [val]
        if probe_bits >= 1:
            probes += [val.bitwiseXOR(F.lit(1 << bit)) for bit in range(width)]
        for probe in probes:
            key = (
                F.xxhash64(F.lit(f"{tag}:{band}"), probe, F.col("w"), F.col("h"))
                .bitwiseAND(F.lit(~(CAPTION_BIT | SIMHASH_BIT)))
            )
            if mark_bit:
                key = key.bitwiseOR(F.lit(mark_bit))
            keys.append(key)
    return keys


def _sub_band_keys():
    sub_keys = []
    for sub in range(4):
        lo = F.shiftrightunsigned(F.col("phash"), sub * 16 + 8).bitwiseAND(
            F.lit(0xFF)
        )
        hi = F.shiftrightunsigned(
            F.col("phash"), (sub * 16 + 16) % 64
        ).bitwiseAND(F.lit(0xFF))
        val = F.shiftleft(hi, 8).bitwiseOR(lo)
        for probe in [val] + [val.bitwiseXOR(F.lit(1 << bit)) for bit in range(16)]:
            sub_keys.append(F.xxhash64(F.lit(f"sub:{sub}"), probe))
    return sub_keys


def _doc_band_keys(bands_n: int, rows_n: int):
    keys = []
    for band in range(bands_n):
        cols = [F.col(f"h{band * rows_n + r}") for r in range(rows_n)]
        keys.append(F.xxhash64(F.lit(f"docband:{band}"), *cols))
    return keys


def _i64(rng, size=None):
    return rng.integers(-(1 << 63), (1 << 63) - 1, size=size, dtype=np.int64,
                        endpoint=True)


@pytest.fixture(scope="module")
def random_sigs(spark):
    """300 random signatures: signed 64-bit phash/simhash/minhash (about half
    negative, plus the extremes), random shapes, and a few null-phash rows."""
    rng = np.random.default_rng(20)
    extremes = [-1, -(1 << 63), (1 << 63) - 1, 0]
    rows = []
    for i in range(300):
        ph = extremes[i] if i < len(extremes) else int(_i64(rng))
        rows.append((
            f"r{i:04d}", int(rng.integers(1, 9)), int(rng.integers(1, 9)),
            [int(v) for v in _i64(rng, 64)], int(_i64(rng)),
            None if i % 97 == 50 else ph,
        ))
    return _sigs(spark, rows).cache()


def _multiset(df, key: str) -> Counter:
    return Counter(tuple(r) for r in df.select("rep_id", key).collect())


def _exploded(df, keys, key: str):
    return df.select("rep_id", F.explode(F.array(*keys)).alias(key))


@pytest.mark.parametrize("probe_bits", [0, 1])
@pytest.mark.parametrize("n_reps,plan", [(None, 4), (500_000, 3), (30_000_000, 2)])
def test_band_table_keys_match_column_reference(random_sigs, n_reps, plan, probe_bits):
    cfg = DedupConfig(probe_bits=probe_bits)
    assert cfg.pixel_band_plan(n_reps) == plan
    reference = (
        _caption_band_keys(cfg)
        + _hash64_band_keys("phash", plan, "ph", cfg.probe_bits)
        + _hash64_band_keys("simhash", cfg.simhash_bands, "sh", 0,
                            mark_bit=SIMHASH_BIT)
    )
    sids = random_sigs.filter(F.col("phash").isNotNull()).withColumn("rep_id", F.col("sid"))
    want = _multiset(_exploded(sids, reference, "band_key"), "band_key")
    assert sum(want.values()) == sids.count() * len(reference)
    assert _multiset(lsh.band_table(random_sigs, cfg, n_reps), "band_key") == want


def test_negative_probe_bits_do_not_probe():
    assert lsh.band_keys(DedupConfig(probe_bits=-1), 4) == lsh.band_keys(
        DedupConfig(probe_bits=0), 4)


def test_sub_keys_match_column_reference(random_sigs):
    members = random_sigs.filter(F.col("phash").isNotNull())
    got = members.selectExpr(
        "rep_id", f"explode(array({', '.join(lsh.SUB_KEYS)})) AS sub_key")
    assert len(lsh.SUB_KEYS) == 68
    assert _multiset(got, "sub_key") == _multiset(
        _exploded(members, _sub_band_keys(), "sub_key"), "sub_key")


@pytest.mark.parametrize("n_docs,plan", [(None, (4, 4)), (20_000_000, (2, 8))])
def test_doc_band_keys_match_column_reference(spark, n_docs, plan):
    assert Q._doc_band_plan(n_docs) == plan
    rng = np.random.default_rng(21)
    sig = spark.createDataFrame(
        [(f"d{i:04d}", *(int(v) for v in _i64(rng, 16))) for i in range(300)],
        "doc_id string, " + ", ".join(f"h{i} long" for i in range(16)),
    )
    want = _multiset(
        _exploded(sig.withColumnRenamed("doc_id", "rep_id"), _doc_band_keys(*plan), "key"),
        "key",
    )
    assert _multiset(Q._doc_bands(sig, n_docs), "key") == want


# --- the bucket kernel against the SQL cascade it replaced, kept here
# verbatim (exact hot detection) as the reference ---------------------------
SUB_KEYS = lsh.SUB_KEYS


def hot_keys(rows: DataFrame, key: str, cap, carry: tuple = ()) -> DataFrame:
    """The over-cap buckets of `rows` (rep_id, <key>, ...): one row per key
    holding more than `cap` rows, with `key`, `_n` (bucket size), `_hub`
    (the minimum rep_id) and one `_hub_<c>` per carried column (the hub
    row's value, for prefiltering star links against the hub)."""
    return (
        rows.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("rep_id").alias("_hub"),
            *(F.min_by(c, "rep_id").alias(f"_hub_{c}") for c in carry),
        )
        .filter(F.col("_n") > cap)
    )


def bucket_pairs(rows: DataFrame, key: str, label, keep=None) -> DataFrame:
    """(id_l, id_r, band_src) for every pair sharing a `key` bucket in
    `rows` (rep_id, <key>, ...), id_l < id_r; `label` is a band_src string
    or a Column over the `l.`/`r.` sides. keep(p, q), when given, is a
    predicate over the two sides' column prefixes ("l.", "r.") that runs
    inside the join's codegen, so the raw pair stream never materializes."""
    l, r = rows.alias("l"), rows.alias("r")
    pairs = (
        l.hint("SHUFFLE_HASH").join(r, F.col(f"l.{key}") == F.col(f"r.{key}"))
        .filter(F.col("l.rep_id") < F.col("r.rep_id"))
    )
    if keep is not None:
        pairs = pairs.filter(keep("l.", "r."))
    return pairs.select(
        F.col("l.rep_id").alias("id_l"),
        F.col("r.rep_id").alias("id_r"),
        F.lit(label).alias("band_src"),
    )


def star_links(joined: DataFrame, label, keep=None) -> DataFrame:
    """(id_l, id_r, band_src) hub STAR links for over-cap buckets: `joined`
    is the bucket rows joined to their hot_keys row, and every member links
    to its bucket's hub (linear, and the bucket subgraph is already a star,
    so connected components converges on it in one round). keep(p, q), when
    given, filters on the hub's carried columns ("_hub_") against the
    member's own ("")."""
    links = joined.filter(F.col("rep_id") != F.col("_hub"))
    if keep is not None:
        links = links.filter(keep("_hub_", ""))
    return links.select(
        F.col("_hub").alias("id_l"),
        F.col("rep_id").alias("id_r"),
        F.lit(label).alias("band_src"),
    )


def _reference_candidate_pairs(
    bands: DataFrame, cfg: DedupConfig, id_map: DataFrame,
    n_reps: int | None = None,
) -> DataFrame:
    """The SQL cascade candidate_pairs ran before the bucket kernel, with
    exact hot detection."""
    ph_limit = cfg.pixel_prefilter(n_reps)

    def keep(p: str, q: str):
        """Per-source prefilter between the signature columns under prefixes
        p and q (see DedupConfig): phash within the plan's radius OR simhash
        within the pigeonhole band. A radius <= 0 DISABLES the prefilter
        (every band collision goes to verify) — the escape hatch for
        auditing prefilter recall against raw LSH output."""
        if ph_limit <= 0:
            return F.lit(True)

        def ham(c: str):
            return F.bit_count(F.col(p + c).bitwiseXOR(F.col(q + c)))

        return (ham("phash") <= ph_limit) | (
            ham("simhash") <= cfg.simhash_prefilter_hamming
        )

    is_caption = F.col("band_key").bitwiseAND(F.lit(CAPTION_BIT)) != 0
    cap = F.when(is_caption, F.lit(cfg.minhash_max_bucket)).otherwise(
        F.lit(cfg.max_band_bucket)
    )
    key_class = F.col("band_key").bitwiseAND(F.lit(CAPTION_BIT | SIMHASH_BIT))
    is_star_key, is_phash_key = key_class != 0, key_class == 0

    bands = bands.localCheckpoint(eager=False)

    carry = ("phash", "simhash")
    hot = hot_keys(bands, "band_key", cap, carry)
    hot, hot_classes = counted_checkpoint(hot, {
        "n_star": F.count_if(is_star_key), "n_pix": F.count_if(is_phash_key),
    })
    n_hot = hot_classes["rows"]
    n_classed = hot_classes["n_star"] + hot_classes["n_pix"]
    if n_classed != n_hot:
        raise AssertionError(
            f"{n_hot} over-cap band keys but {n_classed} "
            "fall in a known key class (caption/simhash/phash)"
        )

    small = (
        bands if not n_hot
        else bands.join(hot.select("band_key"), "band_key", "left_anti")
    )
    branches = [bucket_pairs(
        small, "band_key",
        F.when(F.col("l.band_key").bitwiseAND(F.lit(CAPTION_BIT)) != 0,
               F.lit("minhash")).otherwise(F.lit("pixel")),
        keep,
    )]

    big = bands.join(hot, "band_key")

    if hot_classes["n_star"]:
        branches.append(star_links(
            big.filter(is_star_key),
            F.when(is_caption, "star_minhash").otherwise("star_simhash"),
            keep,
        ))

    if hot_classes["n_pix"]:
        branches += _pixel_overcap_branches(big.filter(is_phash_key), cfg, keep)

    pairs = branches[0]
    for extra in branches[1:]:
        pairs = pairs.unionByName(extra)
    pairs = pairs.groupBy("id_l", "id_r").agg(F.min("band_src").alias("band_src"))
    ml = id_map.select(F.col("sid").alias("id_l"), F.col("rep_id").alias("_l"))
    mr = id_map.select(F.col("sid").alias("id_r"), F.col("rep_id").alias("_r"))
    return (
        pairs.join(ml, "id_l").join(mr, "id_r")
        .select(
            F.least("_l", "_r").alias("id_l"),
            F.greatest("_l", "_r").alias("id_r"),
            "band_src",
        )
    )


def _pixel_overcap_branches(
    overcap_rows: DataFrame, cfg: DedupConfig, keep
) -> list[DataFrame]:
    """The pixel over-cap cascade branches: twin collapse, sub-band
    all-pairs, sub-star fallback."""
    members_all = (
        overcap_rows
        .select("rep_id", "phash", "simhash")
        .distinct()
        .localCheckpoint(eager=False)  # consumers: sig_groups agg, twin join
    )
    sig_groups = (
        members_all.groupBy("phash", "simhash")
        .agg(F.min("rep_id").alias("_dg"), F.count(F.lit(1)).alias("_dn"))
        .localCheckpoint(eager=False)  # consumers: delegates + twin stars
    )
    twins = (
        members_all.join(
            sig_groups.filter(F.col("_dn") > 1), ["phash", "simhash"]
        )
        .filter(F.col("rep_id") != F.col("_dg"))
        .select(
            F.col("_dg").alias("id_l"),
            F.col("rep_id").alias("id_r"),
            F.lit("sig_twin").alias("band_src"),
        )
    )
    members = sig_groups.select(F.col("_dg").alias("rep_id"), "phash", "simhash")
    sub = members.selectExpr(
        "rep_id", "phash", "simhash",
        f"explode(array({', '.join(SUB_KEYS)})) AS sub_key",
    )
    sub_hot = hot_keys(
        sub, "sub_key", cfg.sub_allpairs_max, ("phash", "simhash")
    ).localCheckpoint(eager=False)  # consumers: sub anti-join, star join
    return [
        twins,
        bucket_pairs(
            sub.join(sub_hot.select("sub_key"), "sub_key", "left_anti"),
            "sub_key", "pixel", keep,
        ),
        star_links(sub.join(sub_hot, "sub_key"), "star_pixel", keep),
    ]


def _reference_doc_pairs(sig: DataFrame, n_docs: int | None = None) -> DataFrame:
    """The SQL cascade queries._doc_pairs ran before the bucket kernel, with
    exact hot detection."""
    bands = Q._doc_bands(sig, n_docs).localCheckpoint(eager=False)
    hot = hot_keys(bands, "key", Q.DOC_MAX_BAND_BUCKET).localCheckpoint(eager=False)
    small = bands.join(hot.select("key"), "key", "left_anti")
    return (
        bucket_pairs(small, "key", "minhash")
        .unionByName(star_links(bands.join(hot, "key"), "star_minhash"))
        .select("id_l", "id_r")
        .distinct()
    )


def _relabel(rows, prefix: str):
    return [(prefix + r[0], *r[1:]) for r in rows]


def _flip(v: int, bits) -> int:
    u = v & ((1 << 64) - 1)
    for b in bits:
        u ^= 1 << int(b)
    return _signed(u)


def _planted_mix():
    """Random signatures with small near-dup families, plus every over-cap
    shape: the phash flood with its near pair, the double-saturation crowd
    (over a small sub_allpairs_max it star-links at the sub level), the
    simhash crowd, the caption crowd and a 12-member twin crowd."""
    rng = np.random.default_rng(31)
    rows = []
    for i in range(80):
        ph, sh, mh = int(_i64(rng)), int(_i64(rng)), [int(v) for v in _i64(rng, 64)]
        rows.append((f"r{i:03d}", 64, 64, mh, sh, ph))
        for j in range(int(rng.integers(0, 3))):
            rows.append((
                f"r{i:03d}n{j}", 64, 64, mh if j == 0 else [int(v) for v in _i64(rng, 64)],
                _flip(sh, rng.choice(64, int(rng.integers(0, 6)), replace=False)),
                _flip(ph, rng.choice(64, int(rng.integers(0, 16)), replace=False)),
            ))
    twin_ph, twin_sh = _phash(0x4242, 0x1111, 0x2222, 0x3333), _signed(0x0BAD_F00D_0BAD_F00D)
    rows += [(f"t{i:02d}", 64, 64, [7_000_000 + i * 64 + j for j in range(64)],
              twin_sh, twin_ph) for i in range(12)]
    return (rows + _relabel(_rows(), "a") + _relabel(_saturated_rows(), "s")
            + _relabel(_simhash_crowd_rows(), "h") + _relabel(_caption_crowd_rows(), "k"))


@pytest.fixture
def arrow_batch(spark):
    """Sets maxRecordsPerBatch for one test, so buckets span Arrow batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, before)


SMALL_CAPS = DedupConfig(max_band_bucket=8, sub_allpairs_max=10)


@pytest.mark.parametrize("cfg,batch", [
    (SMALL_CAPS, 2048),
    (SMALL_CAPS, 7),
    (DedupConfig(max_band_bucket=8, sub_allpairs_max=10, prefilter_hamming=0), 7),
    (DedupConfig(max_band_bucket=16), 2048),
])
def test_candidate_pairs_match_sql_reference(spark, arrow_batch, cfg, batch):
    sigs = _sigs(spark, _planted_mix())
    id_map = sigs.select("sid", "rep_id")
    bands = lsh.band_table(sigs, cfg)
    want = sorted(tuple(r) for r in _reference_candidate_pairs(bands, cfg, id_map).collect())
    arrow_batch(batch)
    got = sorted(tuple(r) for r in _pairs(sigs, cfg))
    assert got == want
    if cfg is SMALL_CAPS:  # every label the cascade emits occurs
        assert {r[2] for r in got} == {"minhash", "pixel", "sig_twin", "star_minhash",
                                       "star_simhash", "star_pixel"}


def _doc_mix(spark):
    """Boilerplate crowds over the doc cap, a near pair, unique docs."""
    rows = [(f"b{i:03d}", "the quick brown fox jumps over the lazy dog " * 4)
            for i in range(30)]
    rows += [(f"c{i:03d}", "terms and conditions apply to every order " * 3 + str(i % 2))
             for i in range(20)]
    near = "glaciers carve fjords beneath the aurora while kestrels wheel over the lagoon"
    rows += [("n_a", near), ("n_b", near + "!")]
    rows += [(f"u{i:03d}", f"unique document number {i} about {'x' * (i + 3)} and meadows")
             for i in range(20)]
    return spark.createDataFrame(rows, "doc_id string, text string")


@pytest.mark.parametrize("batch", [2048, 5])
def test_doc_pairs_match_sql_reference(spark, arrow_batch, batch):
    sig = Q._minhash_sig(_doc_mix(spark)).localCheckpoint(eager=False)
    want = sorted(tuple(r) for r in _reference_doc_pairs(sig).collect())
    arrow_batch(batch)
    got = sorted(tuple(r) for r in Q._doc_pairs(sig).collect())
    assert got == want
    assert ("b000", "b001") in got and ("n_a", "n_b") in got


def test_bucket_kernel_matches_brute_force(monkeypatch):
    """The kernel alone, no Spark: random keys and ids cut into random
    batches, with PAIR_CHUNK shrunk so all-pairs buckets take several steps,
    against a per-bucket python loop."""
    monkeypatch.setattr(lsh, "PAIR_CHUNK", 5)
    rng = np.random.default_rng(3)
    n = 400
    rows = pd.DataFrame({
        "rep_id": rng.permutation(n).astype(np.int64),
        "phash": _i64(rng, n), "simhash": _i64(rng, n),
        "band_key": rng.integers(0, 24, n) | np.where(
            rng.random(n) < 0.3, lsh.SIMHASH_BIT, 0),
    }).sort_values("band_key", kind="stable", ignore_index=True)
    cuts = np.sort(rng.choice(np.arange(1, n), 25, replace=False))
    routes = [lsh.Route(lsh.SIMHASH_BIT, 6, "pixel", "star_simhash"),
              lsh.Route(0, 9, "pixel", None)]
    limits = (30, 28)
    out = pd.concat(lsh._bucket_kernel(
        (rows.iloc[a:b] for a, b in zip([0, *cuts], [*cuts, n])), key="band_key", routes=routes, limits=limits,
        sig=["phash", "simhash"], members=True))
    want = set()
    for key, bucket in rows.groupby("band_key"):
        m = bucket.sort_values("rep_id").to_dict("records")
        cap, star = (6, "star_simhash") if key & lsh.SIMHASH_BIT else (9, None)
        near = lambda a, b: (_ham(a["phash"], b["phash"]) <= limits[0]
                             or _ham(a["simhash"], b["simhash"]) <= limits[1])
        if len(m) <= cap:
            want |= {(a["rep_id"], b["rep_id"], "pixel")
                     for i, a in enumerate(m) for b in m[i + 1:] if near(a, b)}
        elif star:
            want |= {(m[0]["rep_id"], b["rep_id"], star) for b in m[1:] if near(m[0], b)}
        else:
            want |= {(a["rep_id"], a["rep_id"], None) for a in m}
    got = list(zip(out["id_l"], out["id_r"], out["band_src"]))
    assert len(got) == len(set(got)) and set(got) == want
    assert {b for *_, b in got} == {"pixel", "star_simhash", None}


def test_candidate_pairs_job_count(spark):
    """candidate_pairs on the planted fixture runs a pinned number of Spark
    jobs: level 1 checkpointed and counted, level 2 and the dedup. A change
    that adds LSH jobs has to change this pin."""
    sigs = _sigs(spark, _rows())
    bands = lsh.band_table(sigs, CFG)
    sc = spark.sparkContext
    sc.setJobGroup("lsh-job-count", "candidate_pairs job count")
    try:
        lsh.candidate_pairs(bands, CFG).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("lsh-job-count")) == 6


def test_overcap_star_bucket_is_linear(spark):
    """One over-cap simhash bucket of 20,000 members (ten Arrow batches)
    gives exactly 19,999 hub star links."""
    n = 20_000
    bands = spark.range(n).selectExpr(
        "id AS rep_id", "0L AS phash", "0L AS simhash",
        f"{lsh.SIMHASH_BIT | 12345}L AS band_key")
    got = lsh.candidate_pairs(bands, DedupConfig()).collect()
    assert len(got) == n - 1
    assert {(r["id_l"], r["band_src"]) for r in got} == {(0, "star_simhash")}
    assert len({r["id_r"] for r in got}) == n - 1
