"""LSH banding + candidate-pair generation with explicit skew handling.

No reference analog — dupion is exact-only. This stage generalizes dupion's
"cheap key first, expensive compare second" staging (state/mod.rs:95-111) to
near-duplicates: band keys are the cheap keys, PSNR/LCS verify is the
expensive compare.

Band sources:
  minhash — cfg.minhash_bands bands of cfg.minhash_rows signature slots over
            caption shingles (catches caption near-dups)
  phash   — 64-bit perceptual hash split into cfg.phash_bands bit-slices
            (pigeonhole: hamming distance < n_bands guarantees a shared band)
  simhash — same banding over the block-mean SimHash

Skew strategy (the mega-cluster problem):
  1. exact-duplicate collapse upstream (operators/exact.representatives) —
     identical images are ONE node here.
  2. bucket-size caps sized to the multiprobe occupancy (DedupConfig
     .max_band_bucket): under-cap buckets run the inline-prefiltered
     all-pairs self-join; over-cap CAPTION and SIMHASH buckets fall back
     to hub star links (no recall obligation — the phash pigeonhole
     carries the guarantee); over-cap PHASH buckets go through
     second-level phash sub-banding so genuine near pairs keep a DIRECT
     verifiable edge (see candidate_pairs docstring). A 10^6-member hot
     bucket emits linear, not quadratic, work on every path.
  3. the all-pairs self-join is pinned to SHUFFLE_HASH (AQE would
     broadcast the corpus-sized band table) and runs under AQE skew-join
     splitting (spark.sql.adaptive.skewJoin.enabled).

One key builder, probe_keys, writes every band key as SQL text (band_keys,
SUB_KEYS, queries._doc_bands). One bucket-pair builder serves every level
that buckets rows (rep_id, <key>, ...) — both levels of the pixel cascade
here and the document MinHash path (queries._doc_pairs):
  hot_keys     — the over-cap keys with their hub (exact, or sampled and
                 re-counted), the only keys that meet the rows again;
  bucket_pairs — the SHUFFLE_HASH all-pairs self-join inside each bucket;
  star_links   — hub star links for the over-cap buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dupion_spark.config import DedupConfig
from dupion_spark.sources.checkpoint import counted_checkpoint


# bit 62 of every band key marks a CAPTION (minhash) bucket: it lets one
# skinny long column carry the per-source cap decision downstream without a
# band_src string per row (one bit of key entropy traded for a 56-byte-
# smaller, allocation-free band row — see band_table)
CAPTION_BIT = 1 << 62
# bit 61 (on non-caption keys) marks a SIMHASH bucket. Over-cap simhash
# buckets must route to hub STAR links, not phash sub-banding: simhash is a
# diversity source with NO recall obligation (the phash multiprobe pigeonhole
# carries the guarantee), and smooth-image simhash clumping grows over-cap
# membership LINEARLY with the corpus — routing those members through phash
# sub-banding produced 28.6e9 sub-bucket all-pairs comparisons at 1.2M images
# (~3600 core-s, the whole 483s pairs wall; BENCH/diag_band_sources.py),
# because low-entropy phash windows concentrate them into near-saturated
# sub-buckets. Caption keys keep bit 61 unrouted (is_caption is checked
# first), so only phash keys pay the 2-bit entropy cost.
SIMHASH_BIT = 1 << 61


def probe_keys(
    tag: str, windows: list[str], probe_width: int = 0, salt: str = "",
    keep: int = -1, mark: int = 0,
) -> list[str]:
    """The SQL text of one band-key family, in array order: window i gives
    xxhash64('<tag>:<i>', <window><salt>) — one pre-combined 64-bit key, no
    md5/concat/string round-trip — then the key of each single-bit flip of
    the window's low probe_width bits; every key is AND-ed with `keep` and
    OR-ed with `mark`, the source-marker bits candidate_pairs routes over-cap
    buckets by. Windows, probes and masked keys are parenthesized: Spark SQL
    binds & tighter than ^, and ^ tighter than |. As SQL text, a table
    explodes its whole key array in one selectExpr instead of building a
    Py4J Column tree per key.

    Symmetric 1-bit probing makes two window values collide iff they differ
    in <= 2 bits, so over n disjoint windows the pigeonhole guarantees a
    shared key for total hamming <= n*2 + n - 1 (d <= 11 at 4 bands)."""
    keys = []
    for i, window in enumerate(windows):
        for probe in [window] + [f"({window} ^ {1 << b})" for b in range(probe_width)]:
            key = f"xxhash64('{tag}:{i}', {probe}{salt})"
            if keep != -1:
                key = f"({key} & {keep})"
            keys.append(f"({key} | {mark})" if mark else key)
    return keys


def band_keys(cfg: DedupConfig, phash_bands: int) -> dict[str, list[str]]:
    """band_table's keys by source: caption (minhash bands, CAPTION_BIT),
    phash (64 // phash_bands-bit slices, probed) and simhash (exact slices,
    SIMHASH_BIT); the pixel keys clear both marker bits first.

    Multiprobe applies to phash ONLY, and only one bit deep for any
    cfg.probe_bits >= 1: phash is the primary pixel band source with the
    guaranteed hamming<=11 catch. simhash (a diversity source with much
    lower entropy on smooth imagery) gets exact bands — probing it
    multiplied junk candidate pairs ~17x for negligible recall.

    The image shape folds into the pixel keys (the w, h salt): near-duplicate
    pixels always share (w, h) — the PSNR verify returns -inf on a shape
    mismatch — so dense low-frequency buckets split by shape class for free,
    with zero recall loss."""
    def slices(col: str, n_bands: int) -> list[str]:
        width = 64 // n_bands
        return [f"(shiftrightunsigned({col}, {b * width}) & {(1 << width) - 1})"
                for b in range(n_bands)]

    rows = cfg.minhash_rows
    pixel = {"salt": ", w, h", "keep": ~(CAPTION_BIT | SIMHASH_BIT)}
    probe = 64 // phash_bands if cfg.probe_bits >= 1 else 0
    return {
        "caption": probe_keys("mh", [
            ", ".join(f"minhash[{b * rows + r}]" for r in range(rows))
            for b in range(cfg.minhash_bands)
        ], mark=CAPTION_BIT),
        "phash": probe_keys("ph", slices("phash", phash_bands), probe, **pixel),
        "simhash": probe_keys("sh", slices("simhash", cfg.simhash_bands),
                              mark=SIMHASH_BIT, **pixel),
    }


# the phash sub-band keys: window s is bits [16s+8, 16s+23] mod 64, probed
# (see candidate_pairs)
SUB_KEYS = probe_keys("sub", [
    f"(shiftleft(shiftrightunsigned(phash, {(16 * s + 16) % 64}) & 255, 8)"
    f" | (shiftrightunsigned(phash, {16 * s + 8}) & 255))" for s in range(4)
], probe_width=16)


def band_table(
    signatures: DataFrame, cfg: DedupConfig, n_reps: int | None = None
) -> DataFrame:
    """Explode per-rep signatures into (rep_id, phash, simhash, band_key).

    The band table's rep_id column carries the rep's long surrogate sid
    (operators/features.FEATURE_SCHEMA), not its string id: the pair
    self-joins then shuffle and compare fixed-width longs instead of id
    strings (~40% of band-row bytes, and the join condition's 300M+ id
    comparisons). candidate_pairs maps back to strings on its tiny output.

    n_reps: corpus-size hint driving the ADAPTIVE pixel band plan
    (cfg.pixel_band_plan): as the corpus grows, fewer/wider phash bands keep
    band-bucket occupancy bounded (the fixed-entropy occupancy growth is the
    measured 600k superlinearity, BENCH/BASELINE.md) at the cost of a lower
    guaranteed hamming catch radius (11 -> 8 -> 5).

    band_key is ONE pre-combined 64-bit long per band row (caption buckets
    flagged via CAPTION_BIT), exploded from an array<long> — an earlier
    layout exploded an array of 88 (band_src, band_idx, band_val) STRUCTS
    per row, and the resulting 2.3G struct allocations at 300k images made
    GC overhead grow with core count (allocation rate scales with
    parallelism against a fixed heap), directly eroding scaling efficiency.
    The two 64-bit pixel signatures ride along (16 bytes/row) so
    candidate_pairs can hamming-prefilter INLINE at pair generation — no
    join against a corpus-sized signature table afterwards. The keys are
    SQL text from band_keys, exploded by one selectExpr."""
    keys = band_keys(cfg, cfg.pixel_band_plan(n_reps))
    all_keys = keys["caption"] + keys["phash"] + keys["simhash"]
    # rows without pixel signatures (containers / corrupt payloads, F4) never
    # pass the pixel-authoritative verify — banding them is pure waste
    return signatures.filter(F.col("phash").isNotNull()).selectExpr(
        "sid AS rep_id", "phash", "simhash",
        f"explode(array({', '.join(all_keys)})) AS band_key",
    )


def hot_keys(
    rows: DataFrame, key: str, cap, carry: tuple = (),
    sample: float | None = None, seed: int = 0,
) -> DataFrame:
    """The over-cap buckets of `rows` (rep_id, <key>, ...): one row per key
    holding more than `cap` rows, with `key`, `_n` (bucket size), `_hub`
    (the minimum rep_id) and one `_hub_<c>` per carried column (the hub
    row's value, for prefiltering star links against the hub).

    ONLY these keys ever meet the band rows again. An earlier layout joined
    the FULL per-bucket count table back onto all band rows — a corpus-scale
    sort-merge join that dominated pair generation (measured: 2x the rest of
    it combined, scaling at ~0.5 efficiency). The over-cap key set is orders
    of magnitude smaller (hot keys only), so the all-pairs path's anti-join
    and the star path's inner join both stay AQE-broadcastable; where even
    the hot set outgrows broadcast they degrade to shuffle joins that move
    only hot keys, never the counts table.

    sample: a row-sample fraction for large corpora, where the exact
    per-key count is itself a corpus-scale near-unique-key shuffle. Keys
    whose sampled count exceeds half the expected at-cap sample are
    flagged, then EXACTLY re-counted on just the flagged slice; `cap` must
    be an int here. A missed marginal bucket degrades to a bounded
    all-pairs join — a superset of its star links, never wrong output
    (verify is authoritative)."""
    if sample is not None:
        flagged = (
            rows.sample(fraction=sample, seed=seed)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("_sn"))
            .filter(F.col("_sn") > max(1, int(cap * sample / 2)))
            .select(key)
        )
        rows = rows.join(flagged, key)
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
    inside the join's codegen, so the raw pair stream never materializes.

    The self-join joins the SAME plan to itself (aliases, not two
    differently-projected copies), so both sides read one cached input.
    SHUFFLE_HASH is pinned: AQE otherwise saw a small compressed shuffle
    size and BROADCAST the 26M-row band table — a single-threaded ~800MB
    driver build that cost more than the whole join (measured 45s vs 18s at
    8 cores) and grows with input, the exact shape of parallelism-
    independent wall the scaling gate punishes. At real corpus scale a
    broadcast here is impossible anyway; per-partition hash builds stay
    bounded by the shuffle partition count, and AQE skew-join splitting
    handles residual bucket skew."""
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


def candidate_pairs(
    bands: DataFrame, cfg: DedupConfig, id_map: DataFrame,
    n_reps: int | None = None,
) -> DataFrame:
    """(id_l, id_r, band_src) candidate pairs over string ids, id_l < id_r,
    hamming-prefiltered INLINE and deduped.

    id_map (sid, rep_id): maps the band table's long surrogate ids back to
    string ids on the OUTPUT pairs — the two join-backs touch only the pair
    table (candidate-proportional, tiny), never the band table.

    n_reps: the same corpus-size hint band_table received — the phash
    prefilter radius follows the ACTIVE band plan's catch guarantee
    (cfg.pixel_prefilter; 12 -> 9 -> 6 as the plan narrows 4 -> 3 -> 2
    bands). Passing a different hint than band_table's desynchronizes
    prefilter and guarantee; the pipeline passes one value to both.

    The raw pair stream (a pair per shared bucket — ~100M rows at 300k
    images) never hits a shuffle: the hamming test runs inside the bucket
    self-join using the signature columns the band rows carry, in whole-stage
    codegen, and only the ~1000x smaller survivor set pays the dedup groupBy.
    An earlier layout deduped the raw stream first and joined a signature
    table after — the dedup was the single biggest shuffle of the pipeline.

    Small buckets -> all-pairs self-join (AQE skew-join handles residual skew);
    buckets over the per-source cap -> linear-cost fallbacks by source:

    CAPTION over-cap buckets: STAR links to the bucket minimum (linear, and —
    unlike chain links — the bucket subgraph is already a star, so connected
    components converges on it in one round instead of O(log chain-length)).
    Caption buckets carry no recall obligation: a genuine near-dup pair
    (pixel PSNR >= 40) is guaranteed a phash band collision by the multiprobe
    pigeonhole, so pixel buckets always cover it; boilerplate-caption buckets
    are impure and their pairs can never pass the pixel-authoritative verify.

    SIMHASH over-cap buckets: hub STAR links too — simhash is a diversity
    source with no recall obligation (see the star-branch comment below for
    the argument and SIMHASH_BIT for the measured 1.2M cost of sub-banding
    them).

    PHASH over-cap buckets: RECURSIVE SUB-BANDING, because star links cannot
    carry recall through the verify gate — a hub edge only survives if the
    member is a near-dup OF THE HUB, so two members near each other but far
    from the hub would lose connectivity (the round-2 latent recall hole),
    and the over-cap bucket may BE the pair's only guaranteed collision.
    Instead, members of an over-cap phash bucket are re-bucketed by 4
    DISJOINT 16-bit windows OFFSET BY 8 BITS from the top-level band slices
    (window s covers bits [16s+8, 16s+23] mod 64), with 1-bit multiprobe.
    Disjoint pigeonhole: a pair at hamming d <= 11 has SOME window with
    <= floor(11/4) = 2 differing bits (also <= 2 at the adaptive plans'
    8/5), within the 1-bit symmetric probe radius — every genuine near pair
    lands in a shared sub-bucket and keeps a DIRECT, verifiable edge
    (property-tested in tests/test_lsh.py). The 8-bit offset makes every
    sub window straddle TWO top-level bands, so the members of an over-cap
    top-level bucket (constant in ONE aligned window) split up to 256 ways
    in every sub window — an aligned 4x16 layout would re-create the
    over-cap crowd verbatim. 16-bit keys carry 256x the entropy of the
    round-3 8-bit sub keys (the saturation ADVICE item); an earlier 8-window
    cyclic byte-pair variant had the same guarantee but 136 keys/member —
    measured at 300k, its sub table approached the size of the TOP-level
    band table (17.1M vs 26.1M rows) and its self-join dominated the pairs
    stage, so the 68-key disjoint form wins at identical radius. Sub-buckets
    up to cfg.sub_allpairs_max run DIRECT all-pairs — a sub-bucket merely
    over the TOP-level cap no longer star-links, so a member far from its
    sub-hub keeps its direct edges (the round-4 residual recall hole,
    closed; quadratic work is bounded per bucket and inline-prefiltered in
    codegen, with AQE skew-join splitting the tasks). Only sub-buckets
    beyond sub_allpairs_max — adversarial mega-crowds agreeing on 16 phash
    bits within 1 flip — fall back to hub star links, labeled star_pixel so
    the exposed population is countable per run (the star_only_pairs
    lineage metric). Cost stays linear in members: 68 sub-rows per over-cap
    member, emitted only for the over-cap slice.

    Before sub-banding, over-cap members sharing an IDENTICAL
    (phash, simhash) collapse to one min-rep_id DELEGATE with hamming-0
    'sig_twin' edges to the other twins (linear): twins are
    indistinguishable to every banding decision — every bucket, probe, and
    sub-window holds all of them or none — and without the collapse a twin
    crowd inside the all-pairs window pays C(n,2) VERIFY pairs the hamming
    prefilter cannot thin (twins pass it by definition; measured: a planted
    3,000-twin crowd at 300k emitted 4.5M candidates and a 19.5-minute
    pairs wall). The 68 sub-rows are emitted per DELEGATE, so a
    million-twin crowd costs one sub-banding participant plus one linear
    star pass."""
    # phash prefilter radius aligned to the active band plan (see docstring)
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

    # per-source cap via the key's caption bit: caption buckets get a tighter
    # all-pairs window than pixel buckets (see DedupConfig.max_band_bucket)
    is_caption = F.col("band_key").bitwiseAND(F.lit(CAPTION_BIT)) != 0
    cap = F.when(is_caption, F.lit(cfg.minhash_max_bucket)).otherwise(
        F.lit(cfg.max_band_bucket)
    )
    # over-cap CAPTION and SIMHASH buckets take hub star links, over-cap
    # PHASH buckets the sub-band cascade (see docstring)
    key_class = F.col("band_key").bitwiseAND(F.lit(CAPTION_BIT | SIMHASH_BIT))
    is_star_key, is_phash_key = key_class != 0, key_class == 0

    # MATERIALIZATION DISCIPLINE: every multiply-referenced intermediate is
    # checkpointed, lazily unless the driver reads its count (`hot`:
    # counted_checkpoint) — DataFrame reuse is NOT compute reuse (each
    # reference inlines the whole subtree; an early version of this plan
    # executed the 26M-row band explode EIGHT times). Measured both ways at
    # 300k: checkpointing the band table costs ~7s of single-disk write but
    # recomputing it per consumer costs more in BOTH wall and scaling
    # (65.7s vs 47.8s at 8 cores; AQE replans the wider trees serially), so
    # the checkpoint stays.
    bands = bands.localCheckpoint(eager=False)  # consumers: hot detection (sample+recheck or exact), small anti-join, big join

    carry = ("phash", "simhash")
    if n_reps is not None and n_reps >= cfg.hot_sample_min_reps:
        # sampled hot detection for the pixel keys (see DedupConfig): the
        # exact per-key counts agg is itself corpus-scale at large N (~40M
        # near-unique keys at 600k under the 3-band plan). Caption keys keep
        # exact detection: their cap is below sampling resolution.
        hot = hot_keys(
            bands.filter(~is_caption), "band_key", cfg.max_band_bucket, carry,
            sample=cfg.hot_sample_fraction, seed=cfg.seed,
        ).unionByName(
            hot_keys(bands.filter(is_caption), "band_key",
                     cfg.minhash_max_bucket, carry)
        )
    else:
        # exact detection at small scale: bitwise-stable bucket routing is
        # what the sf0.001/sf0.01 golden oracles value-check against
        hot = hot_keys(bands, "band_key", cap, carry)
    # ADAPTIVE BRANCH ELISION on the materialized hot statistic: which of the
    # over-cap classes actually occur this run, observed in the job that
    # checkpoints `hot` (consumers: small anti-join + big join) — the AQE
    # idiom (plan from runtime stats) applied at the orchestration level.
    # Without it, every run pays shuffle-stage round-trips for all four
    # fallback branches (caption/simhash stars, twin collapse, sub-banding +
    # sub-stars, each behind its own localCheckpoint materialization) even
    # when the over-cap population is EMPTY — measured ~3s of the 6.3s pairs
    # wall at sf0.1 (6k images, zero hot buckets), pure fixed overhead the
    # scaling gate's small legs also pay. Output is identical: an elided
    # branch contributes zero rows by construction.
    hot, hot_classes = counted_checkpoint(hot, {
        "n_star": F.count_if(is_star_key), "n_pix": F.count_if(is_phash_key),
    })
    n_hot = hot_classes["rows"]
    # the elision is sound only while the classes partition the hot keys: a
    # key in none of them (a new key class, a null band_key) would otherwise
    # skip every over-cap branch and flow into the all-pairs join
    n_classed = hot_classes["n_star"] + hot_classes["n_pix"]
    if n_classed != n_hot:
        raise AssertionError(
            f"{n_hot} over-cap band keys but {n_classed} "
            "fall in a known key class (caption/simhash/phash)"
        )

    # the hot anti-join is itself elided when the hot statistic says NO
    # over-cap bucket exists this run — an anti-join against an empty set is
    # the identity, so output is unchanged and the zero-hot case (every
    # bench SF) skips a full pass + broadcast over the band table.
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

    # caption and simhash over-cap buckets: star links to the hub,
    # hub-hamming filtered (recall is carried by the pixel bands — see
    # docstring). Simhash carries no recall obligation either: any genuine
    # near pair within the plan radius is guaranteed a phash band collision,
    # and the simhash<=3 OR-path class in an over-cap bucket was never
    # guaranteed by phash sub-windows, so star links lose nothing it had
    # (and sub-banding them was the 1.2M pairs-wall blowup, see SIMHASH_BIT).
    # The PLAN-ALIGNED ph_limit is intentionally shared with the caption
    # stars even though the 3*bands catch-guarantee rationale is
    # pixel-specific: caption banding can surface pairs at phash hamming
    # (plan_limit..12] that the narrowed radius now drops, which is safe ONLY
    # because verify is pixel-authoritative and every measured such pair
    # fails the PSNR gate (65,855/65,855 rejected at 600k). If
    # caption-verified edges (require_caption_lcs as an OR-path) are ever
    # added, caption-sourced pairs must keep cfg.prefilter_hamming instead.
    # Star links carry a 'star_*' band_src: direct labels sort
    # lexicographically before star labels, so after the min-agg below a
    # pair is labeled star_* iff its ONLY provenance is hub-star links — the
    # exact population exposed to the documented star-recall caveat,
    # countable for free from the pair/edge tables (no extra jobs).
    if hot_classes["n_star"]:
        branches.append(star_links(
            big.filter(is_star_key),
            F.when(is_caption, "star_minhash").otherwise("star_simhash"),
            keep,
        ))

    # pixel over-cap buckets: second-level sub-banding (4 disjoint 16-bit
    # windows offset 8 bits from the band slices, 1-bit multiprobe — see
    # docstring) over the DISTINCT over-cap member set — global scope, not
    # per parent bucket: the disjoint-pigeonhole guarantee works on the full
    # 64-bit phash regardless of scope, and per-bucket scoping would make a
    # mega-cluster member (over-cap in all its probe buckets) emit 68
    # sub-rows per bucket instead of 68 total. Shape is NOT in the sub key
    # (band rows don't carry w/h); cross-shape sub-collisions are junk pairs
    # bounded by the sub-bucket cap and killed by the hamming prefilter /
    # PSNR gate.
    if hot_classes["n_pix"]:
        branches += _pixel_overcap_branches(big.filter(is_phash_key), cfg, keep)

    pairs = branches[0]
    for extra in branches[1:]:
        pairs = pairs.unionByName(extra)
    pairs = pairs.groupBy("id_l", "id_r").agg(F.min("band_src").alias("band_src"))
    # restore string ids on the tiny output (AQE broadcasts the map at this
    # scale; at corpus scale this is a candidate-proportional join)
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
    all-pairs, sub-star fallback. Split out of candidate_pairs so the whole
    cascade is built ONLY when the hot statistic says pixel over-cap buckets
    exist this run (see the branch-elision comment there)."""
    # checkpoint the DISTINCT MEMBER set (tiny), not the 68x-exploded sub
    # table — each consumer re-explodes from the cached members (parallel,
    # cheap) instead of reading a multi-hundred-MB checkpointed RDD
    members_all = (
        overcap_rows
        .select("rep_id", "phash", "simhash")
        .distinct()
        .localCheckpoint(eager=False)  # consumers: sig_groups agg, twin join
    )
    # EXACT-SIGNATURE TWIN COLLAPSE. Members sharing an IDENTICAL
    # (phash, simhash) are indistinguishable to every banding decision —
    # every bucket/probe/sub-window either holds all of them or none — so
    # running them all through sub-banding is pure redundancy, and the
    # all-pairs window below would pay C(n,2) VERIFY pairs for a crowd the
    # hamming prefilter cannot thin (twins pass it by definition). That trap
    # is real, not hypothetical: a planted 3,000-twin mega-crowd at 300k fit
    # inside sub_allpairs_max and emitted 4.5M verified candidates (19.5 min
    # pairs wall) before this collapse. Post-collapse: one min-rep_id
    # delegate per signature enters sub-banding; the other twins attach by
    # hamming-0 delegate edges ('sig_twin', linear). The label sorts between
    # the direct labels ('minhash'/'pixel') and 'star_*', so a twin pair
    # that also has direct band provenance keeps its direct label under the
    # min-agg, and twin edges are never miscounted by the star_only_pairs
    # metric — at hamming 0 the star-recall caveat does not apply (the only
    # residual is a phash+simhash 128-bit double collision of genuinely
    # dissimilar images failing verify against the delegate; verify stays
    # authoritative either way).
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
    # one delegate per signature: a projection, read from sig_groups' checkpoint
    members = sig_groups.select(F.col("_dg").alias("rep_id"), "phash", "simhash")
    sub = members.selectExpr(
        "rep_id", "phash", "simhash",
        f"explode(array({', '.join(SUB_KEYS)})) AS sub_key",
    )
    # same hot-key structure as the top level, but with the LARGER
    # sub_allpairs_max window: sub-buckets within it run direct all-pairs
    # (recall-complete; see candidate_pairs docstring), so only true
    # mega-crowd sub-buckets rejoin the sub table for star links
    sub_hot = hot_keys(
        sub, "sub_key", cfg.sub_allpairs_max, ("phash", "simhash")
    ).localCheckpoint(eager=False)  # consumers: sub anti-join, star join
    # sub-buckets beyond the sub_allpairs_max window fall back to hub stars:
    # >4096 members agreeing on 16 phash bits within 1 flip are adversarial
    # near-identical mega-crowds where star edges overwhelmingly pass verify
    # and quadratic work is unpayable; the residual risk — a member
    # >prefilter bits from its sub-hub losing its only direct edge — now
    # requires that mega-crowd saturation and stays countable per run via
    # the star_only_pairs lineage metric (see candidate_pairs docstring)
    return [
        twins,
        bucket_pairs(
            sub.join(sub_hot.select("sub_key"), "sub_key", "left_anti"),
            "sub_key", "pixel", keep,
        ),
        star_links(sub.join(sub_hot, "sub_key"), "star_pixel", keep),
    ]
