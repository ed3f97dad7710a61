"""Engine configuration.

One frozen dataclass carries every knob the pipeline needs, so "identical
shingle/signature/band config" (BASELINE.json north_rule) is a single object
shared between the Spark pipeline, the single-process oracle, and the synth
generator. The defaults below ARE the reference config the recall gate runs at.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


# 2^31 - 1 (Mersenne prime). All LCG-style hash mixing is mod this prime so the
# arithmetic stays exactly representable in both Spark SQL and DuckDB BIGINTs
# (needed for the driver's SQL-oracle parity checks).
MERSENNE_31 = 2_147_483_647


@dataclass(frozen=True)
class DedupConfig:
    # --- caption MinHash ----------------------------------------------------
    shingle_k: int = 5            # character shingle width over captions
    minhash_k: int = 64           # number of hash functions / signature length
    minhash_bands: int = 16       # LSH bands over the signature
    minhash_rows: int = 4         # rows per band (bands*rows == minhash_k)
    minhash_seed: int = 0x5EED_0001

    # --- pixel SimHash / pHash ----------------------------------------------
    simhash_grid: int = 16        # SimHash features = grid x grid block means
    simhash_bands: int = 4        # bands over the 64-bit simhash
    phash_bands: int = 4          # bands over the 64-bit phash
    # multiprobe LSH: any value >= 1 also emits every single-bit flip of each
    # phash band value (one bit deep, whatever the value). Symmetric 1-bit
    # probing makes two band values collide iff they differ in <=2 bits; with
    # 4 bands, pigeonhole then guarantees a collision for total hamming
    # distance <= 11 — while keeping 16-bit band values (65536x more selective
    # than 8-bit bands would be at the same guarantee). Costs 17x phash rows.
    probe_bits: int = 1
    phash_dct_size: int = 32      # resize target before DCT
    phash_low_freq: int = 8       # keep top-left 8x8 DCT coefficients

    # --- verification -------------------------------------------------------
    # JVM-side prefilter before the expensive decode-verify, with PER-SOURCE
    # thresholds matching each signature's collision guarantee: multiprobe
    # phash LSH guarantees genuine near-dups sit at phash hamming <= 11 (so
    # 12 is recall-safe), while 4-band simhash pigeonholes at hamming <= 3.
    # The thresholds must NOT be folded into one least(ph, sh) test: simhash
    # has low entropy on smooth imagery, so sh <= 12 admits unrelated pairs —
    # measured on the 100k fixture, least() passed 149k pairs of which 145.8k
    # were simhash-only junk that verify then rejected (98.6% wasted decodes).
    prefilter_hamming: int = 12   # <= 0 disables the prefilter entirely
    simhash_prefilter_hamming: int = 3
    psnr_threshold_db: float = 40.0   # lossy-format pixel allclose gate
    lcs_min_len: int = 12             # suffix-array LCS length reported/gated
    require_caption_lcs: bool = False # if True, edges need LCS >= lcs_min_len too

    # --- skew / scale guards ------------------------------------------------
    # buckets larger than the cap leave the all-pairs path: caption and
    # simhash buckets fall back to hub STAR links, phash buckets to sub-band
    # refinement (operators/lsh.candidate_pairs). The pixel cap must absorb
    # the 1-bit multiprobe's ~17x occupancy inflation: a probe bucket
    # collects every rep within 1 bit of its value, so typical buckets run
    # ~17x larger than exact-band buckets and a cap tuned for exact occupancy
    # (16, round 2) pushed 87% of band rows into the over-cap fallback — both
    # a recall drain and a second corpus-sized pass. With the hamming
    # prefilter running where the pairs are generated (no raw-pair
    # materialization), all-pairs is cheap far beyond that: measured on the
    # 300k fixture, cap 256 = 334M raw comparisons with only 433
    # genuinely-hot buckets (mega-clusters) left for the sub-band cascade.
    # Caption buckets keep a hard cap: boilerplate captions over unrelated
    # images are quadratic junk that pixel-authoritative verify rejects.
    max_band_bucket: int = 256    # all-pairs window for pixel-band buckets
    minhash_max_bucket: int = 8   # all-pairs window for caption-band buckets
    # Second-level sub-buckets (the cascade for over-cap pixel buckets) run
    # DIRECT all-pairs up to this LARGER window instead of hub star links —
    # closing the round-4 residual recall hole where a member far from its
    # sub-hub lost its only direct edge. The quadratic work is bounded
    # (sub_allpairs_max^2/2 prefiltered comparisons per sub-bucket, ~8.4M at
    # 4096, generated lsh.PAIR_CHUNK at a time) and only the double-over-cap
    # slice pays it; a sub-bucket is one kernel call in one task, as no
    # skew splitting reaches inside it. Hub star links remain ONLY for
    # sub-buckets beyond this window (> 4096 members agreeing on 16 phash
    # bits within 1 flip — adversarial mega-crowds where quadratic work is
    # genuinely unpayable); that residual exposure stays observable per run
    # via the star_only_pairs lineage metric.
    # The comparison-cost bound above holds only when the hamming prefilter
    # thins the survivors: a crowd of EXACT-SIGNATURE twins passes the
    # prefilter wholesale, so C(n,2) pairs would reach VERIFY (measured: a
    # planted 3,000-twin crowd at 300k emitted 4.5M candidates, 19.5 min).
    # candidate_pairs therefore collapses identical-(phash,simhash) members
    # to one delegate (hamming-0 'sig_twin' star edges, linear) BEFORE the
    # window applies — the window only ever sees distinct signatures.
    sub_allpairs_max: int = 4096

    # --- corpus-adaptive banding ---------------------------------------------
    # With FIXED band-key entropy, bucket occupancy grows linearly with the
    # corpus and within-bucket comparisons quadratically (measured: 2x input
    # -> ~3.7x pairs-stage work at 600k, BENCH/BASELINE.md). The production
    # answer is to scale key entropy with corpus size: fewer, WIDER phash
    # bands trade the hamming guarantee down (4x16bit: d<=11; 3x21bit: d<=8;
    # 2x32bit: d<=5 — guarantee = 3*bands - 1 under 1-bit symmetric probing)
    # while multiplying per-band selectivity by 2^5 / 2^16. pixel_band_plan()
    # picks the widest plan whose guarantee the corpus size justifies; the
    # verify PSNR gate is unchanged, so precision is unaffected — only the
    # maximum catchable phash distance narrows as N grows.
    adaptive_banding: bool = True
    bands3_min_reps: int = 400_000       # switch to 3 bands at this corpus size
    bands2_min_reps: int = 20_000_000    # switch to 2 bands here

    # --- connected components ------------------------------------------------
    # every CC round is checkpointed unconditionally: each star embeds its
    # input plan ~3x, so anything less truncates too late and Catalyst
    # re-optimization explodes (operators/connected_components.py docstring)
    cc_max_iterations: int = 25

    # --- election (senpai) ordering, dupion/src/dedup/mod.rs:60-79 -----------
    # argmin by (n_extents ASC, phys_occurrences DESC, ctime ASC, |phys-avg| ASC)
    # grafted to: (byte_len ASC, exact_group_size DESC, image_id ASC)
    # (smallest stored representative, preferring the most-replicated encoding)

    # --- misc ----------------------------------------------------------------
    seed: int = 42
    channels: int = 3             # decoded pixel channels (RGB)

    def __post_init__(self) -> None:
        if self.minhash_bands * self.minhash_rows != self.minhash_k:
            raise ValueError("minhash_bands * minhash_rows must equal minhash_k")

    def config_hash(self) -> str:
        """Stable fingerprint of the config — stamped into checkpoint manifests
        so a resumed run refuses to reuse stages built under a different config."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def pixel_band_plan(self, n_reps: int | None) -> int:
        """Number of phash bands for a corpus of n_reps representatives.

        None (size unknown) or small corpora use the default `phash_bands`
        (the config the oracles/golden tables bind to); large corpora step
        down to 3 then 2 wider bands so band-bucket occupancy stays bounded.
        The hamming-catch guarantee at each plan is 3*bands - 1."""
        if not self.adaptive_banding or n_reps is None or n_reps < self.bands3_min_reps:
            return self.phash_bands
        if n_reps < self.bands2_min_reps:
            return 3
        return 2

    def pixel_prefilter(self, n_reps: int | None) -> int:
        """Effective phash-hamming prefilter radius for a corpus of n_reps.

        Aligned with the ACTIVE band plan's catch guarantee (3*bands - 1,
        +1 recall margin = 3*bands): when the adaptive plan narrows the
        guaranteed catch radius (11 -> 8 -> 5), a prefilter still sitting at
        the 4-band radius admits band-collision pairs the plan no longer
        guarantees to generate — pure un-guaranteed luck, and measured to be
        ~91% of all verify work at 600k on the scaling fixture (65,855 of
        72,258 pixel candidates at phash hamming 9-12, every one rejected by
        PSNR). The density of such near-threshold pairs grows quadratically
        with the corpus, so at 10^12 rows an unaligned prefilter re-creates
        the exact superlinear verify blow-up adaptive banding exists to
        prevent. <= 0 keeps the configured escape hatch (prefilter disabled)."""
        if self.prefilter_hamming <= 0:
            return self.prefilter_hamming
        return min(self.prefilter_hamming, 3 * self.pixel_band_plan(n_reps))

    def minhash_params(self) -> list[tuple[int, int]]:
        """(a_i, b_i) pairs for h_i(x) = (a_i * x + b_i) mod (2^31-1).

        Derived deterministically from minhash_seed via SHA-256 so the Spark
        pipeline, the DuckDB oracle SQL, and the numpy oracle all use literally
        the same constants.
        """
        params: list[tuple[int, int]] = []
        for i in range(self.minhash_k):
            digest = hashlib.sha256(f"minhash:{self.minhash_seed}:{i}".encode()).digest()
            a = (int.from_bytes(digest[:8], "big") % (MERSENNE_31 - 1)) + 1
            b = int.from_bytes(digest[8:16], "big") % MERSENNE_31
            params.append((a, b))
        return params


DEFAULT_CONFIG = DedupConfig()
