"""End-to-end recall gate: pipeline clusters vs golden assignments.

BASELINE.json metric: dup-pair recall >= 0.99 vs the reference cluster
assignments (here: the single-process golden oracle, since the reference
ships zero fixtures — SURVEY.md §5), at identical signature/band config.
Also asserts precision via the decoy probes (caption-identical,
pixel-different rows must never cluster)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dupion_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, images_df, partition_map_df, cfg):
    return run_pipeline(spark, images_df, cfg, partition_map=partition_map_df)


def _cluster_assign(result) -> dict[str, str]:
    return {
        r["image_id"]: r["cluster_root"] for r in result.clusters.collect()
    }


def test_every_image_is_assigned(result, images_df):
    assert result.clusters.count() == images_df.count()


def test_dup_pair_recall(result, fixture_small):
    assign = _cluster_assign(result)
    pairs = fixture_small.golden_pairs
    hit = sum(1 for _, p in pairs.iterrows() if assign[p.id_l] == assign[p.id_r])
    recall = hit / len(pairs)
    misses = [
        (p.id_l, p.id_r, p.reason)
        for _, p in pairs.iterrows()
        if assign[p.id_l] != assign[p.id_r]
    ]
    assert recall >= 0.99, f"recall {recall:.4f}, misses: {misses[:10]}"


def test_decoys_do_not_cluster(result, fixture_small):
    """Caption-identical but pixel-different probes must stay apart —
    verification is pixel-authoritative."""
    assign = _cluster_assign(result)
    gc = fixture_small.golden_clusters
    decoys = gc[gc.kind == "decoy"].image_id.tolist()
    for i in range(0, len(decoys) - 1, 2):
        assert assign[decoys[i]] != assign[decoys[i + 1]]


def test_no_cross_golden_merges(result, fixture_small):
    """Precision: two distinct golden non-unique clusters must not merge
    (PSNR verification should reject every accidental band collision)."""
    assign = _cluster_assign(result)
    gc = fixture_small.golden_clusters
    nonunique = gc[~gc.kind.isin(["unique", "decoy"])]
    by_engine: dict[str, set[int]] = {}
    for _, row in nonunique.iterrows():
        by_engine.setdefault(assign[row.image_id], set()).add(row.cluster_id)
    merged = {k: v for k, v in by_engine.items() if len(v) > 1}
    assert not merged, f"engine merged golden clusters: {merged}"


def test_canonical_one_per_cluster(result):
    canon = result.canonical
    assert canon.groupBy("cluster_root").count().filter("count > 1").count() == 0
    # the canonical member belongs to the cluster it represents
    member_clusters = result.clusters.select(
        F.col("image_id").alias("canonical_image_id"),
        F.col("cluster_root").alias("member_root"),
    )
    joined = canon.join(member_clusters, "canonical_image_id", "inner")
    assert joined.count() == canon.count()
    assert joined.filter(F.col("cluster_root") != F.col("member_root")).count() == 0


def test_rollup_detects_planted_duplicate_partitions(result):
    dup = result.rollup.groupBy("rollup_hash").count().filter("count > 1")
    hashes = [r["rollup_hash"] for r in dup.collect()]
    assert len(hashes) >= 1  # dupA / dupB planted twins
    twins = result.rollup.join(
        dup.select("rollup_hash"), "rollup_hash", "left_semi"
    ).select("part_key").collect()
    keys = {r["part_key"] for r in twins}
    assert {"dupA", "dupB"} <= keys


def test_shadowed_images_are_exactly_dup_partition_members(result, fixture_small):
    shadows = {r["image_id"]: r["shadowed"] for r in result.shadows.collect()}
    pm = fixture_small.partition_map
    dup_members = set(pm[pm.part_key.isin(["dupA", "dupB"])].image_id)
    for image_id, shadowed in shadows.items():
        assert shadowed == (image_id in dup_members), image_id


def test_prune_ratio_reported(result):
    assert 0.0 <= result.metrics["prune_ratio"] < 1.0


def test_benchmark_tracer_tables_match_pipeline(result):
    """The benchmark tracer splits a run by layer through two hand-kept
    tables; a renamed stage or operator would silently drop out of the
    trace. Every stage the pipeline runs must have a layer, and every traced
    operator entry point must still exist."""
    import importlib

    from perfbench.tracing import OPERATOR_CALLS, STAGE_LAYER

    assert set(result.metrics["stages"]) == set(STAGE_LAYER)
    for mod_name, fn_name, _ in OPERATOR_CALLS:
        fn = getattr(importlib.import_module(mod_name), fn_name, None)
        assert callable(fn), f"{mod_name}.{fn_name}"


# --- saturated-cap run: the star_only_pairs == 0 planted-fixture gate --------
@pytest.fixture(scope="module")
def saturated_result(spark, images_df, partition_map_df):
    """Same fixture, caps tightened until the planted mega-cluster (~30
    near-identical reps) saturates the TOP-level pixel buckets and rides the
    sub-band cascade. With the sub_allpairs_max window every sub-bucket runs
    direct all-pairs, so recall must hold with ZERO star-only pairs."""
    from dupion_spark.config import DedupConfig

    tight = DedupConfig(max_band_bucket=8, minhash_max_bucket=4)
    return run_pipeline(spark, images_df, tight, partition_map=partition_map_df)


def test_saturated_run_recall(saturated_result, fixture_small):
    assign = _cluster_assign(saturated_result)
    pairs = fixture_small.golden_pairs
    hit = sum(1 for _, p in pairs.iterrows() if assign[p.id_l] == assign[p.id_r])
    assert hit / len(pairs) >= 0.99


def test_saturated_run_no_star_only_pairs(saturated_result):
    """Every candidate pair has a DIRECT (non-star) provenance — the planted
    fixture never exposes the residual mega-crowd star fallback."""
    row = (
        saturated_result.lineage
        .filter("stage = 'pairs' and part_key = 'star_only_pairs'")
        .collect()
    )
    assert len(row) == 1 and row[0]["rows_out"] == 0


def test_saturated_run_no_cross_golden_merges(saturated_result, fixture_small):
    assign = _cluster_assign(saturated_result)
    gc = fixture_small.golden_clusters
    nonunique = gc[~gc.kind.isin(["unique", "decoy"])]
    by_engine: dict[str, set[int]] = {}
    for _, row in nonunique.iterrows():
        by_engine.setdefault(assign[row.image_id], set()).add(row.cluster_id)
    merged = {k: v for k, v in by_engine.items() if len(v) > 1}
    assert not merged, f"engine merged golden clusters: {merged}"


def test_real_codec_reencode_pair_clusters(spark):
    """Real-bytes end-to-end: a real PNG and a real baseline JPEG
    (functions/png.py + functions/jpeg.py, no Pillow, no stand-in codec) of
    the same pixels must land in one cluster — decode -> phash banding ->
    PSNR verify on actual spec-compliant bytes, the reference's re-encode
    semantic (driver/platterwalker.rs:268-344 grafted to decoded pixels)."""
    import numpy as np

    from dupion_spark.config import DedupConfig
    from dupion_spark.functions.jpeg import encode_real_jpeg
    from dupion_spark.functions.png import encode_real_png
    from dupion_spark.functions.signatures import phash64
    from dupion_spark.streaming.dedup_stream import IMAGE_SCHEMA

    cfg = DedupConfig()
    rng = np.random.default_rng(21)

    def smooth():
        coarse = rng.integers(16, 240, size=(16, 16, 3))
        up = np.repeat(np.repeat(coarse, 4, 0), 4, 1)
        return np.clip(up + rng.integers(-6, 7, up.shape), 0, 255).astype(np.uint8)

    base = smooth()
    rows = [
        ("real_png", bytearray(encode_real_png(base)), 64, 64, "png",
         "caption one", phash64(base, cfg)),
        ("real_jpg", bytearray(encode_real_jpeg(base)), 64, 64, "jpeg",
         "caption two", phash64(base, cfg)),
    ]
    for i in range(6):
        px = smooth()
        rows.append((f"uniq{i}", bytearray(encode_real_png(px)), 64, 64,
                     "png", f"caption u{i}", phash64(px, cfg)))
    images = spark.createDataFrame(rows, IMAGE_SCHEMA)
    result = run_pipeline(spark, images, cfg)
    assign = {r["image_id"]: r["cluster_root"] for r in result.clusters.collect()}
    assert assign["real_png"] == assign["real_jpg"]
    assert assign["real_png"] not in {assign[f"uniq{i}"] for i in range(6)}


def test_real_codec_six_format_group_clusters(spark):
    """Mixed real-format corpus end-to-end: the SAME frame as real PNG, GIF,
    BMP, TIFF, PPM (bit-identical decoded pixels -> one exact group) and
    real JPEG (PSNR ~47 dB -> near-dup edge) must all land in ONE cluster —
    the reference's re-encode semantic across every real codec this engine
    decodes without Pillow (functions/{png,jpeg,gif,bmp,tiff,pnm}.py)."""
    import numpy as np

    from dupion_spark.config import DedupConfig
    from dupion_spark.functions.bmp import encode_real_bmp
    from dupion_spark.functions.gif import encode_real_gif
    from dupion_spark.functions.jpeg import encode_real_jpeg
    from dupion_spark.functions.png import encode_real_png
    from dupion_spark.functions.pnm import encode_real_ppm
    from dupion_spark.functions.signatures import phash64
    from dupion_spark.functions.tiff import encode_real_tiff
    from dupion_spark.streaming.dedup_stream import IMAGE_SCHEMA

    cfg = DedupConfig()
    rng = np.random.default_rng(21)

    def smooth_quantized():
        coarse = rng.integers(16, 240, size=(16, 16, 3))
        up = np.repeat(np.repeat(coarse, 4, 0), 4, 1).astype(np.uint8)
        return (up // 32 * 32).astype(np.uint8)  # <=256 colors: GIF-safe

    base = smooth_quantized()
    rows = [
        ("f_png", bytearray(encode_real_png(base)), 64, 64, "png",
         "caption a", phash64(base, cfg)),
        ("f_jpg", bytearray(encode_real_jpeg(base)), 64, 64, "jpeg",
         "caption b", phash64(base, cfg)),
        ("f_gif", bytearray(encode_real_gif(base)), 64, 64, "gif",
         "caption c", phash64(base, cfg)),
        ("f_bmp", bytearray(encode_real_bmp(base)), 64, 64, "bmp",
         "caption d", phash64(base, cfg)),
        ("f_tif", bytearray(encode_real_tiff(base)), 64, 64, "tiff",
         "caption e", phash64(base, cfg)),
        ("f_ppm", bytearray(encode_real_ppm(base)), 64, 64, "pnm",
         "caption f", phash64(base, cfg)),
    ]
    for i in range(6):
        px = smooth_quantized()
        rows.append((f"uniq{i}", bytearray(encode_real_png(px)), 64, 64,
                     "png", f"caption u{i}", phash64(px, cfg)))
    images = spark.createDataFrame(rows, IMAGE_SCHEMA)
    result = run_pipeline(spark, images, cfg)
    assign = {r["image_id"]: r["cluster_root"] for r in result.clusters.collect()}
    roots = {assign[k]
             for k in ("f_png", "f_jpg", "f_gif", "f_bmp", "f_tif", "f_ppm")}
    assert len(roots) == 1, f"six formats split into {roots}"
    assert roots.pop() not in {assign[f"uniq{i}"] for i in range(6)}


# --- Spark jobs per stage: a change that adds jobs has to say so ------------
# Each stage call runs in its own job group; jobs outside every stage (input
# staging, lineage) fall in "pipeline", and the clusters + canonical read a
# caller makes after the run in "read". Plain-composition stages run their
# jobs inside the first stage that reads them.
JOBS_PER_STAGE = {
    "pipeline": 3, "features": 4, "hashes": 3, "exact_groups": 0, "reps": 4,
    "signatures": 0, "bands": 0, "pairs": 7, "verified_edges": 6,
    "clusters": 6, "canonical": 0, "rollup": 3, "shadows": 4, "read": 7,
}
# the same run under a checkpoint root, fresh and then resumed: the path both
# benchmark workloads run
JOBS_PER_STAGE_FRESH_ROOT = {
    "pipeline": 5, "features": 5, "hashes": 3, "exact_groups": 0, "reps": 3,
    "signatures": 0, "bands": 0, "pairs": 6, "verified_edges": 7,
    "clusters": 6, "canonical": 0, "rollup": 3, "shadows": 4, "read": 5,
}
JOBS_PER_STAGE_RESUMED_ROOT = {
    "pipeline": 2, "features": 1, "hashes": 3, "exact_groups": 0, "reps": 3,
    "signatures": 0, "bands": 0, "pairs": 1, "verified_edges": 1,
    "clusters": 1, "canonical": 0, "rollup": 3, "shadows": 4, "read": 5,
}


def _jobs_per_stage(spark, monkeypatch, tag: str, run) -> dict[str, int]:
    """Spark jobs per job group of `run()` plus the clusters + canonical read."""
    from dupion_spark.sources.checkpoint import CheckpointManager

    sc = spark.sparkContext
    stage = CheckpointManager.stage

    def grouped(mgr, name, *args, **kwargs):
        sc.setJobGroup(f"{tag}:{name}", name)
        try:
            return stage(mgr, name, *args, **kwargs)
        finally:
            sc.setJobGroup(f"{tag}:pipeline", "pipeline")

    with monkeypatch.context() as patch:
        patch.setattr(CheckpointManager, "stage", grouped)
        sc.setJobGroup(f"{tag}:pipeline", "pipeline")
        try:
            result = run()
            sc.setJobGroup(f"{tag}:read", "read")
            result.clusters.select("image_id", "cluster_root").collect()
            result.canonical.count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return {g: len(sc.statusTracker().getJobIdsForGroup(f"{tag}:{g}"))
            for g in JOBS_PER_STAGE}


def test_jobs_per_stage(spark, images_df, partition_map_df, cfg, monkeypatch):
    images_df.count(), partition_map_df.count()  # fill the fixtures' caches
    got = _jobs_per_stage(spark, monkeypatch, "jobs", lambda: run_pipeline(
        spark, images_df, cfg, partition_map=partition_map_df))
    assert got == JOBS_PER_STAGE, f"jobs per stage: {got}"


def test_jobs_per_stage_under_a_root(
    spark, images_df, partition_map_df, cfg, monkeypatch, tmp_path
):
    images_df.count(), partition_map_df.count()  # fill the fixtures' caches
    ckpt = str(tmp_path / "ckpt")

    def run():
        return run_pipeline(spark, images_df, cfg, partition_map=partition_map_df,
                            checkpoint_dir=ckpt)

    fresh = _jobs_per_stage(spark, monkeypatch, "jobs-fresh-root", run)
    resumed = _jobs_per_stage(spark, monkeypatch, "jobs-resumed-root", run)
    assert fresh == JOBS_PER_STAGE_FRESH_ROOT, f"jobs per stage, fresh root: {fresh}"
    assert resumed == JOBS_PER_STAGE_RESUMED_ROOT, f"jobs per stage, resumed: {resumed}"


@pytest.mark.parametrize("with_root", [False, True])
def test_empty_input_runs_to_empty_outputs(spark, cfg, tmp_path, with_root):
    """An input with no rows has no row group to split: the run still
    finishes, with no cluster, canonical row or pair."""
    empty = spark.createDataFrame([], "image_id string, bytes binary, caption string")
    result = run_pipeline(spark, empty, cfg,
                          checkpoint_dir=str(tmp_path / "ckpt") if with_root else None)
    assert result.metrics["n_images"] == 0
    assert result.clusters.count() == 0
    assert result.canonical.count() == 0
    assert result.candidate_pairs.count() == 0
