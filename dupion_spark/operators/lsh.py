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
     .max_band_bucket): under-cap buckets emit all their pairs, hamming-
     prefiltered; over-cap CAPTION and SIMHASH buckets fall back to hub star
     links (no recall obligation — the phash pigeonhole carries the
     guarantee); over-cap PHASH buckets go through second-level phash
     sub-banding so genuine near pairs keep a DIRECT verifiable edge (see
     candidate_pairs docstring). A 10^6-member hot bucket emits linear, not
     quadratic, work on every path.
  3. every bucket is made local: the rows are shuffled by key once and a
     numpy kernel walks each partition's key runs, so a bucket's size and
     hub are exact local facts and no global per-key count is ever taken.
     Raw all-pairs are generated PAIR_CHUNK at a time, so one bucket at
     sub_allpairs_max never builds its millions of pairs at once.

One key builder, probe_keys, writes every band key as SQL text (band_keys,
SUB_KEYS, queries._doc_bands). One bucket kernel, bucket_links, serves every
level that buckets rows (rep_id, <key>, ...): both levels of the pixel
cascade here and the document MinHash path (queries._doc_pairs).
"""

from __future__ import annotations

import functools
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
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

    The band table's rep_id column is the rep's long sid
    (operators/features.FEATURE_SCHEMA), the pipeline's one id space: the
    bucket shuffle moves fixed-width longs instead of id strings (~40% of
    band-row bytes), and the pairs come out in the sids verify and
    connected components key on.

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


# raw all-pairs generated per numpy step: a bucket at sub_allpairs_max
# (4096 members, ~8.4M pairs) yields its pairs in bounded steps
PAIR_CHUNK = 1 << 20


class Route(NamedTuple):
    """How bucket_links treats the buckets whose key carries `bit` (bit 0
    takes every key; the first matching route wins, so the last one has bit
    0): up to `cap` rows, every pair labeled `label`; over the cap, a STAR
    from the hub (the minimum rep_id) to each member labeled `star` or, with
    star None, the member rows themselves (id_l = id_r = rep_id, a null
    band_src, their phash and simhash) for the next level to re-bucket."""

    bit: int
    cap: int
    label: str
    star: str | None


def bucket_links(
    rows: DataFrame, key: str, routes: list[Route],
    limits: tuple[int, int] | None = None,
) -> DataFrame:
    """(id_l, id_r, band_src) for the buckets of `rows` (rep_id, <key>
    [, phash, simhash]) as `routes` says, id_l < id_r, plus phash and simhash
    columns when a route passes member rows on. limits (phash, simhash): a
    pair is kept only if its phash hamming is within the first OR its
    simhash hamming within the second; None keeps every pair.

    One shuffle by key puts each bucket in one partition, sorted, and
    _bucket_kernel walks the partition's key runs, so a bucket's size, hub
    and pairs are local and exact. Not groupBy(key).applyInPandas: that is
    one Python call per key. A bucket stays in one task: AQE skew splitting
    does not reach inside the kernel, but every over-cap path is linear."""
    sig = [c for c in ("phash", "simhash") if c in rows.columns]
    members = any(r.star is None for r in routes)
    id_type = rows.schema["rep_id"].dataType.simpleString()
    schema = f"id_l {id_type}, id_r {id_type}, band_src string" + "".join(
        f", {c} long" for c in sig if members)
    kernel = functools.partial(_bucket_kernel, key=key, routes=routes,
                               limits=limits, sig=sig, members=members)
    return rows.repartition(key).sortWithinPartitions(key).mapInPandas(kernel, schema)


def key_runs(batches: Iterator[pd.DataFrame], key: str) -> Iterator[pd.DataFrame]:
    """One partition's key-sorted Arrow batches regrouped into frames of
    whole key runs. A bucket can span batches (maxRecordsPerBatch), so each
    batch's trailing run waits for the batch that closes it: only that open
    run is carried, never the partition."""
    tail: list[pd.DataFrame] = []
    for pdf in batches:
        if pdf.empty:
            continue
        if pdf[key].isna().any():
            raise ValueError(f"null {key}: every bucketed row needs a key")
        keys = pdf[key].to_numpy()
        cut = int(np.searchsorted(keys, keys[-1]))
        if cut or (tail and tail[-1][key].iat[-1] != keys[0]):
            yield pd.concat([*tail, pdf.iloc[:cut]], ignore_index=True)
            tail = []
        tail.append(pdf.iloc[cut:])
    if tail:
        yield pd.concat(tail, ignore_index=True)


def _bucket_kernel(
    batches: Iterator[pd.DataFrame], key: str, routes: list[Route],
    limits: tuple[int, int] | None, sig: list[str], members: bool,
) -> Iterator[pd.DataFrame]:
    """mapInPandas body of bucket_links over one key-sorted partition."""
    for runs in key_runs(batches, key):
        for out in _bucket_frames(runs, key, routes, limits, sig, members):
            if len(out):
                yield out


def _bucket_frames(
    pdf: pd.DataFrame, key: str, routes: list[Route],
    limits: tuple[int, int] | None, sig: list[str], members: bool,
) -> Iterator[pd.DataFrame]:
    """bucket_links' output rows for a frame of whole key runs."""
    # factorize(sort=True) codes order like the ids, strings included;
    # sorted by (key, code), a run's first row is its minimum-id hub and
    # positions a < b hold ids id[a] <= id[b]
    codes, ids = pd.factorize(pdf["rep_id"], sort=True)
    keys = pdf[key].to_numpy()
    order = np.lexsort((codes, keys))
    keys, codes = keys[order], codes[order]
    rid = ids.to_numpy()[codes]
    sigs = [pdf[c].to_numpy()[order] for c in sig]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    sizes = np.diff(np.r_[starts, len(keys)])
    route = np.full(len(starts), len(routes) - 1)
    for i in reversed(range(len(routes) - 1)):
        route[(keys[starts] & routes[i].bit) != 0] = i
    run = np.repeat(np.arange(len(starts)), sizes)
    over = (sizes > np.array([r.cap for r in routes])[route])[run]

    def links(left: np.ndarray, right: np.ndarray, label: np.ndarray) -> pd.DataFrame:
        keep = codes[left] != codes[right]
        if limits is not None:
            keep &= (_hamming(sigs[0][left], sigs[0][right]) <= limits[0]) | (
                _hamming(sigs[1][left], sigs[1][right]) <= limits[1])
        left, right = left[keep], right[keep]
        out = {"id_l": rid[left], "id_r": rid[right], "band_src": label[keep]}
        if members:
            out.update({c: np.zeros(len(left), np.int64) for c in sig})
        return pd.DataFrame(out)

    # under-cap buckets: row i pairs with the rows after it in its run,
    # PAIR_CHUNK raw pairs at a time
    labels = np.array([r.label for r in routes], dtype=object)
    small = np.flatnonzero(~over)
    fan = np.repeat(starts + sizes, sizes)[small] - small - 1
    small, fan = small[fan > 0], fan[fan > 0]
    done = np.cumsum(fan)
    lo = 0
    while lo < len(small):
        hi = max(lo + 1, int(np.searchsorted(
            done, done[lo] - fan[lo] + PAIR_CHUNK, "right")))
        f = fan[lo:hi]
        left = np.repeat(small[lo:hi], f)
        right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(f) - f, f)
        yield links(left, right, labels[route[run[left]]])
        lo = hi
    # over-cap buckets: hub stars, or member rows for the next level
    stars = np.array([r.star for r in routes], dtype=object)
    star = over & np.array([r.star is not None for r in routes])[route][run]
    spokes = np.flatnonzero(star)
    yield links(np.repeat(starts, sizes)[spokes], spokes, stars[route[run[spokes]]])
    if members:
        mem = np.flatnonzero(over & ~star)
        yield pd.DataFrame({
            "id_l": rid[mem], "id_r": rid[mem],
            "band_src": np.full(len(mem), None, dtype=object),
            **{c: s[mem] for c, s in zip(sig, sigs)},
        })


_M1, _M2, _M4, _H01 = (np.uint64(m) for m in (
    0x5555555555555555, 0x3333333333333333, 0x0F0F0F0F0F0F0F0F, 0x0101010101010101))


def _hamming(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Bit count of a ^ b over int64 arrays: a SWAR popcount, as numpy 1.26
    has no bitwise_count."""
    x = (a ^ b).view(np.uint64)
    x = x - ((x >> np.uint64(1)) & _M1)
    x = (x & _M2) + ((x >> np.uint64(2)) & _M2)
    x = (x + (x >> np.uint64(4))) & _M4
    return (x * _H01) >> np.uint64(56)


def candidate_pairs(
    bands: DataFrame, cfg: DedupConfig, n_reps: int | None = None,
) -> DataFrame:
    """(id_l, id_r, band_src) candidate pairs over the band table's rep ids
    (the pipeline's long sids), id_l < id_r, hamming-prefiltered INLINE and
    deduped. Verify and connected components key on the same sids, so no id
    map is joined here.

    n_reps: the same corpus-size hint band_table received — the phash
    prefilter radius follows the ACTIVE band plan's catch guarantee
    (cfg.pixel_prefilter; 12 -> 9 -> 6 as the plan narrows 4 -> 3 -> 2
    bands). Passing a different hint than band_table's desynchronizes
    prefilter and guarantee; the pipeline passes one value to both.

    The raw pair stream (a pair per shared bucket — ~100M rows at 300k
    images) never leaves the kernel: the hamming test runs where bucket_links
    generates the pairs, from the signature columns the band rows carry, and
    only the survivors pay the dedup groupBy.

    Buckets up to the per-source cap emit all their pairs; buckets over it
    take linear-cost fallbacks by source:

    CAPTION over-cap buckets: STAR links to the bucket minimum (linear, and —
    unlike chain links — the bucket subgraph is already a star, so connected
    components converges on it in one round instead of O(log chain-length)).
    Caption buckets carry no recall obligation: a genuine near-dup pair
    (pixel PSNR >= 40) is guaranteed a phash band collision by the multiprobe
    pigeonhole, so pixel buckets always cover it; boilerplate-caption buckets
    are impure and their pairs can never pass the pixel-authoritative verify.

    SIMHASH over-cap buckets: hub STAR links too — simhash is a diversity
    source with no recall obligation (any genuine near pair within the plan
    radius is guaranteed a phash band collision; see SIMHASH_BIT for the
    measured 1.2M cost of sub-banding them).

    The star prefilter uses the PLAN-ALIGNED phash radius for caption stars
    too, although the 3*bands catch-guarantee rationale is pixel-specific:
    caption banding can surface pairs at phash hamming (plan_limit..12] that
    the narrowed radius drops, which is safe ONLY because verify is
    pixel-authoritative and every measured such pair fails the PSNR gate
    (65,855/65,855 rejected at 600k). If caption-verified edges
    (require_caption_lcs as an OR-path) are ever added, caption-sourced
    pairs must keep cfg.prefilter_hamming instead.

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
    over-cap crowd verbatim. 16-bit keys keep sub-buckets from saturating
    (8-bit ones did), and 4 disjoint windows cost 68 keys per member at the
    same radius as 8 overlapping ones at 136. The scope is the DISTINCT member
    set, not each parent bucket: the disjoint pigeonhole works on the full
    64-bit phash regardless of scope, and a mega-cluster member over the cap
    in all its probe buckets still emits 68 sub-rows, not 68 per bucket.
    Shape is NOT in the sub key; cross-shape sub-collisions are junk pairs
    bounded by the sub-bucket cap and killed by the prefilter / PSNR gate.
    Sub-buckets up to cfg.sub_allpairs_max emit DIRECT all-pairs — a
    sub-bucket merely over the TOP-level cap does not star-link, so a member
    far from its sub-hub keeps its direct edges (the round-4 residual recall
    hole, closed). Only sub-buckets beyond sub_allpairs_max — adversarial
    mega-crowds agreeing on 16 phash bits within 1 flip, where star edges
    overwhelmingly pass verify and quadratic work is unpayable — fall back
    to hub star links, labeled star_pixel so the exposed population is
    countable per run (the star_only_pairs lineage metric).

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
    star pass.

    Labels: direct labels ('minhash', 'pixel') sort before 'sig_twin', which
    sorts before 'star_*', so after the min-agg a pair is labeled star_* iff
    its ONLY provenance is hub-star links — the population exposed to the
    star-recall caveat, countable from the pair table. At hamming 0 that
    caveat does not apply, so twin edges are not counted with it."""
    # a radius <= 0 DISABLES the prefilter (every band collision goes to
    # verify) — the escape hatch for auditing prefilter recall
    ph_limit = cfg.pixel_prefilter(n_reps)
    limits = (ph_limit, cfg.simhash_prefilter_hamming) if ph_limit > 0 else None
    # level 1, the one materialized table: its pairs and its over-cap phash
    # member rows (null band_src) are read apart, and the member count
    # decides whether level 2 runs (an empty input gives no level-2 pairs)
    level1, counts = counted_checkpoint(
        bucket_links(bands, "band_key", [
            Route(CAPTION_BIT, cfg.minhash_max_bucket, "minhash", "star_minhash"),
            Route(SIMHASH_BIT, cfg.max_band_bucket, "pixel", "star_simhash"),
            Route(0, cfg.max_band_bucket, "pixel", None),
        ], limits),
        {"members": F.count_if(F.col("band_src").isNull())},
    )
    pairs = level1.filter(F.col("band_src").isNotNull()).select("id_l", "id_r", "band_src")
    if counts["members"]:
        members = level1.filter(F.col("band_src").isNull()).select(
            F.col("id_l").alias("rep_id"), "phash", "simhash")
        pairs = pairs.unionByName(_sub_band_pairs(members, cfg, limits))
    return pairs.groupBy("id_l", "id_r").agg(F.min("band_src").alias("band_src"))


def _sub_band_pairs(
    members: DataFrame, cfg: DedupConfig, limits: tuple[int, int] | None
) -> DataFrame:
    """Level 2 over the over-cap phash member rows (rep_id, phash, simhash;
    a member repeats once per over-cap bucket): the twin collapse, then the
    sub-band buckets of one delegate per signature (see candidate_pairs)."""
    # lazy, read twice: by the twin edges and by the delegates' sub keys
    groups = members.groupBy("phash", "simhash").agg(
        F.min("rep_id").alias("rep_id"), F.collect_set("rep_id").alias("_twins")
    ).localCheckpoint(eager=False)
    twins = groups.select(
        F.col("rep_id").alias("id_l"),
        F.explode(F.array_remove("_twins", F.col("rep_id"))).alias("id_r"),
        F.lit("sig_twin").alias("band_src"),
    )
    sub = groups.selectExpr(
        "rep_id", "phash", "simhash",
        f"explode(array({', '.join(SUB_KEYS)})) AS sub_key",
    )
    return twins.unionByName(bucket_links(
        sub, "sub_key", [Route(0, cfg.sub_allpairs_max, "pixel", "star_pixel")],
        limits,
    ))
