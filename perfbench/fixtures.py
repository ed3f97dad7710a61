"""Seeded benchmark inputs and their planted truth.

Each workload is a parquet corpus plus the truth the checker scores it
against. Every byte derives from the workload seed (and fixed constants), so
the same seed gives byte-identical files.

- ``dup_heavy`` is generated here with numpy and the program's public codec
  and signature functions. About half the rows sit in near-dup families whose
  sizes follow a Zipf law; the head family and the twin crowd exceed
  ``max_band_bucket``. It
  carries one exact-signature twin crowd, near-dup chains (member k is
  perturbed from member k-1, so far members only connect through the chain),
  exact-copy groups, boilerplate captions over unrelated images (more than
  ``minhash_max_bucket`` each), and a partition map with planted duplicated
  partitions.
- ``incremental_append`` uses ``synth_spark.generate_scaling_fixture``, the
  program's own throughput fixture, for the base corpus. The block-aligned
  delta holds the next rows of the same generator (its row function, written
  here with pyarrow so that no Spark job runs before the timed run), so the
  per-100-row planted structure extends into the delta.

Every planted near-dup edge is drawn inside the catch envelope the program
documents (phash hamming within the multiprobe guarantee, PSNR above the
verify gate); draws outside it are rejected and redrawn.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dupion_spark.config import DedupConfig
from dupion_spark.functions.codec import encode_jpeg, encode_png, psnr_db
from dupion_spark.functions.signatures import pixel_signatures

# bump when generation changes: cached fixtures are keyed by it
FIXTURE_VERSION = 2

CFG = DedupConfig()


@dataclass(frozen=True)
class DupShape:
    rows: int
    files: int
    row_groups_per_file: int
    zipf_head: int            # largest family; Zipf exponent 1 below it
    zipf_families: int
    twin_crowd: int           # exact-signature twins, distinct bytes
    boilerplate_captions: int
    boilerplate_share: int    # unrelated images per boilerplate caption
    dup_partition_pairs: int
    dup_partition_size: int


DUP_HEAVY = DupShape(rows=1600, files=8, row_groups_per_file=2, zipf_head=300,
                     zipf_families=12, twin_crowd=280, boilerplate_captions=4,
                     boilerplate_share=12, dup_partition_pairs=6,
                     dup_partition_size=5)
DIMS = (32, 48, 64)

# envelope for planted near-dup edges (inside the program's guarantees:
# multiprobe phash catch <= 11 bits, verify PSNR gate 40 dB)
STAR_MAX_PHASH_FROM_BASE = 2
STAR_MIN_PSNR_FROM_BASE = 47.0
CHAIN_MAX_STEP_PHASH = 8
CHAIN_MIN_STEP_PSNR = 44.0

# incremental_append shape: base rows and a delta of a few percent, both
# multiples of the scaling fixture's 100-row planted block; the planted
# mega-cluster (one row per block) stays under max_band_bucket. The base is
# made with a fixed seed (the generator's default), the delta with the
# workload seed.
INC_BASE_ROWS = 2000
INC_DELTA_ROWS = 100
INC_BASE_SEED = 42


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


class _DupHeavyBuilder:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 0xD0F])
        self.rows: list[dict] = []
        self.clusters: list[list[int]] = []   # row indices per planted cluster
        words = ["".join(self.rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 6))
                 for _ in range(400)]
        self.vocab = np.asarray(words)

    def caption(self) -> str:
        return " ".join(self.rng.choice(self.vocab, size=10).tolist())

    def smooth(self, dim: int) -> np.ndarray:
        coarse = self.rng.integers(16, 240, size=(dim // 4, dim // 4, CFG.channels))
        up = np.repeat(np.repeat(coarse, 4, axis=0), 4, axis=1)
        noise = self.rng.integers(-6, 7, size=up.shape)
        return np.clip(up + noise, 0, 255).astype(np.uint8)

    def perturb(self, pixels: np.ndarray, n: int, amp: int) -> np.ndarray:
        out = pixels.astype(np.int16)
        h, w, c = out.shape
        ys = self.rng.integers(0, h, n)
        xs = self.rng.integers(0, w, n)
        cs = self.rng.integers(0, c, n)
        out[ys, xs, cs] += self.rng.choice(np.array([-amp, amp]), n)
        return np.clip(out, 0, 255).astype(np.uint8)

    def add(self, pixels: np.ndarray, caption: str, fmt: str = "png",
            data: bytes | None = None) -> int:
        if data is None:
            data = encode_png(pixels) if fmt == "png" else encode_jpeg(pixels)
        h, w = pixels.shape[:2]
        self.rows.append({"bytes": data, "w": int(w), "h": int(h), "fmt": fmt,
                          "caption": caption,
                          "phash": pixel_signatures(pixels, CFG)[1]})
        return len(self.rows) - 1

    def draw(self, base: np.ndarray, n: int, amp: int, accept) -> np.ndarray:
        """Perturb until `accept(candidate)` holds; shrink the step if the
        draw keeps missing the envelope."""
        for attempt in range(64):
            cand = self.perturb(base, max(1, n >> (attempt // 16)), amp)
            if not np.array_equal(cand, base) and accept(cand):
                return cand
        raise RuntimeError("could not draw a perturbation inside the envelope")

    # -- families -------------------------------------------------------------
    def star_family(self, size: int) -> None:
        base = self.smooth(int(self.rng.choice(DIMS)))
        sh0, ph0 = pixel_signatures(base, CFG)

        # the simhash stays the base's: its exact bands put the whole family in
        # one bucket per band, and a family split across buckets just under
        # max_band_bucket would swing the candidate count from seed to seed
        def ok(c):
            sh, ph = pixel_signatures(c, CFG)
            return (sh == sh0
                    and _hamming(ph, ph0) <= STAR_MAX_PHASH_FROM_BASE
                    and psnr_db(c, base) >= STAR_MIN_PSNR_FROM_BASE)

        members = [self.add(base, self.caption())]
        members += [self.add(self.draw(base, 24, 8, ok), self.caption())
                    for _ in range(size - 1)]
        self.clusters.append(members)

    def chain_family(self, size: int) -> None:
        cur = self.smooth(int(self.rng.choice(DIMS)))
        members = [self.add(cur, self.caption())]
        for _ in range(size - 1):
            prev, ph_prev = cur, pixel_signatures(cur, CFG)[1]

            def ok(c, prev=prev, ph_prev=ph_prev):
                return (_hamming(pixel_signatures(c, CFG)[1], ph_prev)
                        <= CHAIN_MAX_STEP_PHASH
                        and psnr_db(c, prev) >= CHAIN_MIN_STEP_PSNR)

            n = max(8, prev.size // 40)
            cur = self.draw(prev, n, 10, ok)
            members.append(self.add(cur, self.caption()))
        self.clusters.append(members)

    def exact_family(self, size: int) -> list[int]:
        pixels = self.smooth(int(self.rng.choice(DIMS)))
        data, cap = encode_png(pixels), self.caption()
        members = [self.add(pixels, cap, data=data) for _ in range(size)]
        self.clusters.append(members)
        return members

    def twin_crowd(self, size: int) -> None:
        base = self.smooth(32)
        sig0 = pixel_signatures(base, CFG)

        def ok(c):
            return pixel_signatures(c, CFG) == sig0

        members = [self.add(base, self.caption())]
        seen = {encode_png(base)}
        while len(members) < size:
            cand = self.draw(base, 1, 1, ok)
            data = encode_png(cand)
            if data not in seen:
                seen.add(data)
                members.append(self.add(cand, self.caption(), data=data))
        self.clusters.append(members)

    def unique(self, caption: str | None = None) -> int:
        fmt = "png" if self.rng.random() < 0.7 else "jpeg"
        return self.add(self.smooth(int(self.rng.choice(DIMS))),
                        caption or self.caption(), fmt)


def zipf_sizes(head: int, n: int) -> list[int]:
    return [max(2, int(round(head / r))) for r in range(1, n + 1)]


def generate_dup_heavy(seed: int, shape: DupShape = DUP_HEAVY) -> tuple[dict, dict]:
    """Columns of the dup_heavy corpus and partition map, plus its truth."""
    b = _DupHeavyBuilder(seed)
    kinds = ("star", "exact", "chain")
    for rank, size in enumerate(zipf_sizes(shape.zipf_head, shape.zipf_families)):
        getattr(b, f"{kinds[rank % 3]}_family")(size)
    b.twin_crowd(shape.twin_crowd)

    # planted duplicated partitions: partition A_k and B_k hold exact copies
    # under the same rel_names; every other partition's content is distinct
    dup_parts: dict[str, list[int]] = {}
    for k in range(shape.dup_partition_pairs):
        pairs = [b.exact_family(2) for _ in range(shape.dup_partition_size)]
        dup_parts[f"dupA{k:02d}"] = [p[0] for p in pairs]
        dup_parts[f"dupB{k:02d}"] = [p[1] for p in pairs]

    for _ in range(shape.boilerplate_captions):
        cap = b.caption()
        for _ in range(shape.boilerplate_share):
            b.unique(cap)
    while len(b.rows) < shape.rows:
        b.unique()

    # row order is shuffled so families spread over files and row groups
    order = b.rng.permutation(len(b.rows))
    ids = [""] * len(b.rows)
    for pos, idx in enumerate(order):
        ids[idx] = f"d{pos:07d}"
    images = {k: [b.rows[i][k] for i in order]
              for k in ("bytes", "w", "h", "fmt", "caption", "phash")}
    images["image_id"] = [ids[i] for i in order]

    in_dup = {i: (pk, f"r{j:05d}") for pk, members in dup_parts.items()
              for j, i in enumerate(members)}
    n_parts = max(4, shape.rows // 50)
    part_key, rel_name = [], []
    for pos, idx in enumerate(order):
        pk, rn = in_dup.get(idx, (f"p{pos % n_parts:03d}", f"r{pos // n_parts:05d}"))
        part_key.append(pk)
        rel_name.append(rn)
    partition_map = {"image_id": images["image_id"], "part_key": part_key,
                     "rel_name": rel_name}
    truth = {
        "rows": len(b.rows),
        "clusters": sorted(sorted(ids[i] for i in c) for c in b.clusters),
        "dup_partitions": sorted(dup_parts),
        "shadowed": sorted(ids[i] for m in dup_parts.values() for i in m),
    }
    return {"images": images, "partition_map": partition_map}, truth


def write_dup_heavy(out_dir: str, seed: int, shape: DupShape = DUP_HEAVY) -> dict:
    """Write source/, partition_map.parquet and truth.json under out_dir."""
    tables, truth = generate_dup_heavy(seed, shape)
    images = pa.table({
        "image_id": pa.array(tables["images"]["image_id"], pa.string()),
        "bytes": pa.array(tables["images"]["bytes"], pa.binary()),
        "w": pa.array(tables["images"]["w"], pa.int32()),
        "h": pa.array(tables["images"]["h"], pa.int32()),
        "fmt": pa.array(tables["images"]["fmt"], pa.string()),
        "caption": pa.array(tables["images"]["caption"], pa.string()),
        "phash": pa.array(tables["images"]["phash"], pa.int64()),
    })
    src = os.path.join(out_dir, "source")
    os.makedirs(src, exist_ok=True)
    per_file = -(-images.num_rows // shape.files)
    for f in range(shape.files):
        part = images.slice(f * per_file, per_file)
        # same layout rules as the program's own fixture writers: no
        # dictionary on blobs, bounded pages (page-selective verify gather)
        pq.write_table(
            part, os.path.join(src, f"part-{f:03d}.parquet"),
            row_group_size=-(-part.num_rows // shape.row_groups_per_file),
            use_dictionary=["image_id", "fmt", "caption"],
            data_page_size=256 * 1024, write_batch_size=64,
        )
    pq.write_table(pa.table(tables["partition_map"]),
                   os.path.join(out_dir, "partition_map.parquet"))
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth


def write_scaling_delta(out_dir: str, start: int, n_rows: int, seed: int,
                        n_files: int = 4) -> None:
    """Rows [start, start + n_rows) of synth_spark's scaling fixture as
    n_files parquet files, laid out like the generator's own (no dictionary,
    256 KiB pages)."""
    from dupion_spark.sources.synth_spark import _make_row

    os.makedirs(out_dir, exist_ok=True)
    rows = [_make_row(i, seed, CFG) for i in range(start, start + n_rows)]
    per_file = -(-n_rows // n_files)
    for f in range(n_files):
        part = rows[f * per_file:(f + 1) * per_file]
        table = pa.table({
            "image_id": pa.array([r["image_id"] for r in part], pa.string()),
            "bytes": pa.array([r["bytes"] for r in part], pa.binary()),
            "w": pa.array([r["w"] for r in part], pa.int32()),
            "h": pa.array([r["h"] for r in part], pa.int32()),
            "fmt": pa.array([r["fmt"] for r in part], pa.string()),
            "caption": pa.array([r["caption"] for r in part], pa.string()),
            "phash": pa.array([r["phash"] for r in part], pa.int64()),
        })
        pq.write_table(table, os.path.join(out_dir, f"part-{f:03d}.parquet"),
                       use_dictionary=False, data_page_size=256 * 1024,
                       write_batch_size=4)


def scaling_truth(parts: list[tuple[int, int, int]]) -> dict:
    """Planted clusters of synth_spark's scaling fixture written as parts of
    (seed, first row, rows). Per 100-row block, rows 0-1 are an exact pair,
    rows 2-3 a near pair, and row 4 joins one near-dup cluster with row 4 of
    every block made with the same seed."""
    sid = "s{:010d}".format
    clusters: list[list[str]] = []
    mega: dict[int, list[str]] = {}
    for seed, start, n_rows in parts:
        for base in range(start, start + n_rows, 100):
            clusters.append([sid(base), sid(base + 1)])
            clusters.append([sid(base + 2), sid(base + 3)])
            mega.setdefault(seed, []).append(sid(base + 4))
    clusters += [m for m in mega.values() if len(m) > 1]
    return {"rows": sum(n for _, _, n in parts), "clusters": clusters}
