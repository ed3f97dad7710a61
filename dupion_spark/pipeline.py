"""End-to-end near-duplicate pipeline orchestration.

The staged dataflow (SURVEY.md §3.1 "Spark shape"):

    images
      ├─ exact:   feature-pass pixel SHA-256 → shape prune → hash groups
      ├─ reps:    collapse exact-identical rows to one LSH node; each row
      │           carries its exact-group size
      ├─ sigs:    MinHash(caption) + SimHash/pHash(pixels) per rep
      ├─ bands:   LSH band explode → band_key
      ├─ pairs:   one bucket kernel per key shuffle (+ hub stars and
      │           sub-bands for over-cap buckets)
      ├─ edges:   PSNR/LCS verification of candidate pairs
      ├─ cc:      connected components (one union-find task when small,
      │           else large-star/small-star rounds)
      ├─ clusters: rep assignments expanded to all rows + singletons
      ├─ canonical: senpai election per cluster (O6) from clusters + reps
      └─ rollup/shadow: per-partition rollup + duplicated-partition shadows

Every stage goes through the CheckpointManager: under a checkpoint root the
four persisted stages (features, pairs, verified_edges, clusters) resume when
their manifest chain matches and the others are rebuilt from them; row counts
and counters come from the jobs that materialize the stages. Stage/partition
lineage + metrics accumulate per run. Run `python -m dupion_spark.pipeline`
for a quick local demo.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
from dataclasses import dataclass
from hashlib import sha256

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dupion_spark.config import DedupConfig
from dupion_spark.operators import connected_components as cc
from dupion_spark.operators import election, exact, lsh, rollup, verify
from dupion_spark.operators import features as features_op
from dupion_spark.sources.checkpoint import (
    CheckpointManager,
    counted_checkpoint,
    file_fingerprints,
    fingerprint_files,
    partition_lineage,
)


@dataclass
class PipelineResult:
    hashes: DataFrame
    exact_groups: DataFrame
    clusters: DataFrame          # image_id, cluster_root
    canonical: DataFrame         # cluster_root, canonical_image_id, ...
    verified_edges: DataFrame
    candidate_pairs: DataFrame
    rollup: DataFrame | None
    shadows: DataFrame | None
    lineage: DataFrame
    metrics: dict
    metrics_table: DataFrame      # (metric, stage, value) — A7 metrics table


def _stage_input(
    spark: SparkSession, images: DataFrame, checkpoint_dir: str | None
) -> str:
    """Write a DataFrame input's (image_id, bytes, caption) to parquet once
    and return the directory, so it runs the file-backed path.

    Under a checkpoint root the copy lives at <root>/input@<fp16>, where
    fp16 names the content: one JVM-side pass of count, xor and decimal sum
    (no overflow under ANSI) of xxhash64(image_id, bytes, caption), so a
    payload edit under an unchanged id and length still renames it, and so
    does a change of which row is present twice (it cancels out of a xor). A
    complete copy with the same name is reused as is; its files keep their
    (size, mtime_ns), so a rerun over the same rows resumes every stage.
    Copies of other content are removed. Without a root the copy goes to a
    temporary directory removed at interpreter exit (local mode: the
    executors must see the driver's filesystem).

    The blob column is written without dictionary encoding (a dictionary
    page holds every payload and defeats the page-selective verify gather,
    operators/verify.gather_payloads), in defaultParallelism files so the
    feature stage keeps one task per row group."""
    if checkpoint_dir:
        row_hash = F.xxhash64("image_id", "bytes", "caption")
        row = images.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(row_hash), F.lit(0)).alias("h"),
            F.sum(row_hash.cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        fp16 = sha256(str(tuple(row)).encode()).hexdigest()[:16]
        out = os.path.join(checkpoint_dir, f"input@{fp16}")
        for stale in glob.glob(os.path.join(checkpoint_dir, "input@*")):
            if stale != out:
                shutil.rmtree(stale, ignore_errors=True)
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            return out
    else:
        out = tempfile.mkdtemp(prefix="dupion-input-")
        atexit.register(shutil.rmtree, out, ignore_errors=True)
    # range-partitioned on row position, so the copy keeps the input order
    # and its sids (file, row group, row) sort like the input rows: star
    # hubs (min sid of an over-cap bucket) stay the first member in input
    # order, whatever the input's partitioning
    (
        images.select("image_id", "bytes", "caption",
                      F.monotonically_increasing_id().alias("_pos"))
        .repartitionByRange(spark.sparkContext.defaultParallelism, "_pos")
        .sortWithinPartitions("_pos")
        .drop("_pos")
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .parquet(out)
    )
    return out


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    cfg: DedupConfig | None = None,
    partition_map: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    source_path: str | None = None,
) -> PipelineResult:
    """images: the input rows (image_id, bytes, caption).

    source_path: optional parquet file/dir holding the SAME rows as
    `images`; when given, `images` itself is not read. Per-image feature
    extraction and pair verification read the payloads directly in the
    Python workers (one task per parquet row group) instead of shipping the
    binary column through the JVM->Arrow boundary — measured ~60 MB/s
    aggregate for binary transfer in this environment (operators/features.py).
    Without source_path, `images` is staged to parquet once (_stage_input)
    and then read the same way, so every input takes one feature path and
    one verify path."""
    cfg = cfg or DedupConfig()
    if not source_path:
        source_path = _stage_input(spark, images, checkpoint_dir)
    # root-stage input fingerprint: a resumed run over changed input data must
    # NOT reuse checkpointed stages (dupion's (ctime,size) validation, F5).
    # (Computed only when checkpointing is on — no manifests, no fingerprint.)
    input_fp = fingerprint_files(source_path) if checkpoint_dir else ""
    mgr = CheckpointManager(spark, checkpoint_dir, cfg, input_fingerprint=input_fp)

    # Per-row incremental resume (the reference's defining cache behavior:
    # vfs/entry.rs:173-198 keeps a row iff (ctime,size) match and pass 2
    # rehashes only rows without a valid cached hash). Graft at file-row
    # granularity: the features manifest stores a per-file fingerprint map;
    # when the chain is stale but SOME input files are unchanged, the rebuild
    # reuses their checkpointed feature rows and re-extracts (decodes) ONLY
    # new/changed files. New and changed files get file indices from the
    # prior next_file_idx on, so every row with sid >= fresh_sid is fresh
    # content and every row below it was reused; the verify stage reuses
    # prior verdicts only between rows below it. At 10^12 rows with daily
    # appends this is the difference between re-decoding the corpus and
    # decoding the delta.
    prior_feats = mgr.prior_manifest("features")
    incremental = bool(
        prior_feats and prior_feats.get("files")
        and prior_feats.get("config_hash") == cfg.config_hash()
    )
    next_idx = (
        int(prior_feats.get("next_file_idx", len(prior_feats["files"])))
        if incremental else 0
    )
    fresh_sid = next_idx << 40  # sid = file_idx<<40 | rg<<20 | pos
    incr: dict = {"reused_files": None, "manifest": {}}

    def _files_df(paths) -> DataFrame:
        """Tiny (src_file) DataFrame for semi-joining row sets by source file.
        A `Column.isin(<list>)` here would inline up to 10^6 string literals
        into the plan — driver-side analysis/serialization cost growing with
        the corpus file count, the exact bottleneck the distributed footer
        reads avoid. A broadcast semi-join keeps the plan O(1)."""
        return F.broadcast(
            spark.createDataFrame([(p,) for p in sorted(paths)], "src_file string")
        )

    def _features() -> DataFrame:
        current = file_fingerprints(source_path)
        if incremental:
            prior_files = prior_feats["files"]
            unchanged = sorted(
                p for p, fp in current.items()
                if p in prior_files and prior_files[p]["fp"] == fp
            )
            prior_df = mgr.prior_output("features") if unchanged else None
            if prior_df is not None:
                fresh = sorted(set(current) - set(unchanged))
                # fresh files get indices past every previously-used one so
                # their derived sids can never collide with reused rows'
                fresh_idx = [(p, next_idx + i) for i, p in enumerate(fresh)]
                incr["manifest"] = {
                    "files": {
                        **{p: {"fp": current[p], "idx": prior_files[p]["idx"]}
                           for p in unchanged},
                        **{p: {"fp": current[p], "idx": i} for p, i in fresh_idx},
                    },
                    "next_file_idx": next_idx + len(fresh),
                }
                incr["reused_files"] = set(unchanged)
                reused = prior_df.join(_files_df(unchanged), "src_file", "left_semi")
                if not fresh:
                    return reused
                new_rows = features_op.extract_features_from_files(
                    spark, source_path, cfg, files_with_idx=fresh_idx
                )
                return reused.unionByName(new_rows)
        incr["manifest"] = {
            "files": {p: {"fp": fp, "idx": i}
                      for i, (p, fp) in enumerate(sorted(current.items()))},
            "next_file_idx": len(current),
        }
        return features_op.extract_features_from_files(spark, source_path, cfg)

    # Barrier policy (see CheckpointManager.stage), the same with or without
    # a checkpoint root; under a root the four persisted stages (features,
    # pairs, verified_edges, clusters) are written instead, and the write is
    # their barrier. A barrier is a counted checkpoint, one eager job that
    # observes the stage's rows and counters: where concurrent AQE stage
    # materialization would otherwise race a lazy checkpoint
    # (features/reps/pairs/verified_edges), where the job observes a metric
    # that would otherwise cost a count job (hashes: n_pixel_hashed), and at
    # clusters (several readers). The other stages are plain composition
    # whose jobs run at their first read (exact_groups, signatures, bands,
    # canonical). Each eager checkpoint is ~1s of serial
    # wall, so the policy keeps the fewest barriers that stay race-free.
    feats = mgr.stage(
        "features", _features, manifest_extra=lambda: incr["manifest"],
        counters={"rows_reused": F.count_if(F.col("sid") < F.lit(fresh_sid))},
    )
    # corpus size, observed in the job that materialized the feature anchor:
    # reused for the A7 metrics AND as the adaptive band-plan hint
    n_images = mgr.record("features").rows_out
    if incr["reused_files"] is not None:
        # lineage proof of the incremental rebuild: how many feature rows
        # were reused from the prior checkpoint vs actually re-extracted
        n_reused = mgr.record("features").counters["rows_reused"]
        mgr.extra_lineage.append(("features", "rows_reused", n_reused))
        mgr.extra_lineage.append(
            ("features", "rows_recomputed", n_images - n_reused)
        )
    hashes = mgr.stage(
        "hashes", lambda: features_op.hashes_from_features(feats), ["features"],
        counters={"n_pixel_hashed": F.count("pixel_sha256")},
    )
    # exact_groups is a single-consumer output projection — no extra barrier
    # (each eager checkpoint is ~1s of serial wall regardless of cluster size;
    # multi-consumer stages keep theirs so their shuffles run exactly once)
    groups = mgr.stage(
        "exact_groups", lambda: exact.exact_groups(hashes), ["hashes"],
        barrier=False,
    )
    # reps/pairs/verified_edges are EAGER anchors: their consumers reference
    # them from multiple concurrently-materialized AQE query stages, and a
    # lazy checkpoint materialized under that concurrency gets recomputed by
    # racing stages (measured: the pairs stage ran 124s at 8 cores inside
    # the pipeline vs 49s in isolation with eager parents — the anti-scaling
    # was racing recompute, not work)
    reps = mgr.stage("reps", lambda: exact.representatives(hashes), ["hashes"])

    # signatures has two consumers — bands, and the pairs stage's id_map
    # projection (sid -> rep_id). Both read the same cheap column slice of
    # the MATERIALIZED feature anchor, so no extra barrier is needed.
    sigs = mgr.stage(
        "signatures",
        lambda: features_op.signatures_from_features(feats, reps),
        ["features", "reps"],
        barrier=False,
    )
    bands = mgr.stage(
        "bands", lambda: lsh.band_table(sigs, cfg, n_reps=n_images),
        ["signatures"], barrier=False,
    )
    # candidate generation prefilters + dedupes inline (operators/lsh): the
    # materialized pairs table IS the verify input — raw band-collision pairs
    # never hit a barrier or a shuffle. Band rows carry the long surrogate
    # sid; the (sid -> image_id) map restores strings on the pair output.
    # star-recall exposure counter: pairs whose ONLY provenance is hub-star
    # links (band_src 'star_*', operators/lsh) are the population exposed to
    # the documented over-cap star caveat — surfaced per run so saturation
    # degradation is visible instead of latent.
    pairs = mgr.stage(
        "pairs",
        lambda: lsh.candidate_pairs(
            bands, cfg, id_map=sigs.select("sid", "rep_id"), n_reps=n_images
        ),
        ["bands"],
        counters={"star_only_pairs": F.count_if(F.col("band_src").startswith("star_"))},
    )
    mgr.extra_lineage.append(
        ("pairs", "star_only_pairs", mgr.record("pairs").counters["star_only_pairs"])
    )

    def _verify() -> DataFrame:
        # incremental verdict reuse: a prior run's (id_l, id_r) verdict is
        # valid iff neither endpoint is fresh content (content identical =>
        # deterministic verify verdict identical) AND the pair was
        # regenerated by the CURRENT pair stage (so the edge set equals a
        # from-scratch run's exactly — a stale candidate that no longer
        # band-collides, or one whose endpoint was deleted, must not
        # survive). One left join of the current pairs onto the valid prior
        # verdicts, materialized once, splits them; unmatched pairs are
        # verified.
        fresh_pairs, cached = pairs, None
        prior_manifest = mgr.prior_manifest("verified_edges")
        if (
            incr["reused_files"]
            and prior_manifest
            and prior_manifest.get("config_hash") == cfg.config_hash()
        ):
            prior_edges = mgr.prior_output("verified_edges")
            if prior_edges is not None:
                fresh_ids = feats.filter(F.col("sid") >= F.lit(fresh_sid)).select(
                    "image_id"
                )
                valid = (
                    prior_edges
                    .join(fresh_ids.withColumnRenamed("image_id", "id_l"),
                          "id_l", "left_anti")
                    .join(fresh_ids.withColumnRenamed("image_id", "id_r"),
                          "id_r", "left_anti")
                    .select("id_l", "id_r", "psnr", "lcs_len", "passed",
                            F.lit(True).alias("_hit"))
                )
                hit = F.col("_hit").isNotNull()
                joined, split = counted_checkpoint(
                    pairs.join(valid, ["id_l", "id_r"], "left"),
                    {"reused": F.count_if(hit)},
                )
                mgr.extra_lineage.append(
                    ("verified_edges", "pairs_reused", split["reused"])
                )
                mgr.extra_lineage.append(
                    ("verified_edges", "pairs_verified",
                     split["rows"] - split["reused"])
                )
                cached = joined.filter(hit).select(
                    "id_l", "id_r", "band_src", "psnr", "lcs_len", "passed"
                )
                fresh_pairs = joined.filter(~hit).select("id_l", "id_r", "band_src")
        # features carry (file, row group) payload locators: verify reads
        # payloads worker-side — pair bytes never cross the Arrow boundary
        out = verify.verified_edges_from_files(
            fresh_pairs, feats, cfg, gather_metrics=gather_acc
        )
        return out.unionByName(cached) if cached is not None else out

    gather_acc: dict = {}
    edges = mgr.stage("verified_edges", _verify, ["pairs", "features"])
    if gather_acc:  # empty when the stage resumed: no gather ran
        # decompress-volume accounting for the page-selective gather
        # (operators/verify.gather_payloads): bytes_total = what whole-chunk
        # reads would have decompressed, bytes_read = what the page walk paid
        for k in ("bytes_read", "bytes_total", "pages_read", "pages_total",
                  "fallback_rgs", "fallback_dense"):
            mgr.extra_lineage.append(
                ("verified_edges", f"gather_{k}", int(gather_acc[k].value))
            )

    def _cluster() -> DataFrame:
        near = edges.filter(F.col("passed")).select("id_l", "id_r")
        # singletons: expand_representatives makes an unassigned rep its own root
        rep_assign = cc.connected_components(near, cfg.cc_max_iterations)
        return cc.expand_representatives(rep_assign, reps)

    clusters = mgr.stage("clusters", _cluster, ["verified_edges", "reps"])
    canonical = mgr.stage(
        "canonical", lambda: election.canonical_map(clusters, reps),
        ["clusters", "reps"], barrier=False,
    )

    roll = shadows = None
    lineage = mgr.lineage_df()
    if partition_map is not None:
        roll = mgr.stage(
            "rollup", lambda: rollup.rollup_table(hashes, partition_map), ["hashes"]
        )
        dup_parts = rollup.duplicated_partitions(roll)
        shadows = mgr.stage(
            "shadows", lambda: rollup.shadowed_images(partition_map, dup_parts), ["rollup"]
        )
        # per-partition lineage rows (north_rule): input row counts and
        # cluster-assignment counts per part_key, unioned under the
        # stage-level manifest records
        plin = partition_lineage(partition_map, "images").unionByName(
            partition_lineage(clusters.join(partition_map, "image_id"), "clusters")
        )
        plin = plin.select(
            "stage",
            "part_key",
            "rows_out",
            F.lit(None).cast("long").alias("wall_ms"),
            F.lit(False).alias("resumed"),
            F.lit("").alias("manifest_hash"),
        )
        lineage = lineage.unionByName(plin)

    # metrics: stage-1 prune ratio (BASELINE.md qualitative metric) + stage rows.
    # Both counts are observed in the jobs that materialized their stages, so
    # no count job runs here: n_images with the feature stage (it also drives
    # the adaptive band plan), n_hashed with the hashes checkpoint.
    n_hashed = mgr.record("hashes").counters["n_pixel_hashed"]
    metrics = {
        "n_images": n_images,
        "n_pixel_hashed": n_hashed,
        "prune_ratio": round(1.0 - n_hashed / max(n_images, 1), 4),
        "stages": {r.stage: {"rows": r.rows_out, "wall_ms": r.wall_ms, "resumed": r.resumed}
                   for r in mgr.records},
    }
    if gather_acc:
        metrics["gather"] = {k: int(v.value) for k, v in gather_acc.items()}

    # A7 metrics TABLE (north_rule: metrics tables, not just a dict): global
    # counters + per-stage wall/rows, appendable to a run-history table
    metric_rows = [
        ("n_images", "*", float(n_images)),
        ("n_pixel_hashed", "*", float(n_hashed)),
        ("prune_ratio", "*", float(metrics["prune_ratio"])),
    ] + [
        (name, r.stage, float(val))
        for r in mgr.records
        for name, val in (("stage_wall_ms", r.wall_ms), ("stage_rows", r.rows_out))
    ]
    metrics_table = spark.createDataFrame(
        metric_rows, "metric string, stage string, value double"
    )

    return PipelineResult(
        hashes=hashes,
        exact_groups=groups,
        clusters=clusters,
        canonical=canonical,
        verified_edges=edges,
        candidate_pairs=pairs,
        rollup=roll,
        shadows=shadows,
        lineage=lineage,
        metrics=metrics,
        metrics_table=metrics_table,
    )


if __name__ == "__main__":  # quick local demo on the synthetic fixture
    import json

    from dupion_spark.session import get_spark
    from dupion_spark.sources.synth import generate

    spark = get_spark("dupion_spark_demo", cores=8)
    fixture = generate(500)
    images_df = spark.createDataFrame(fixture.images)
    parts_df = spark.createDataFrame(fixture.partition_map)
    result = run_pipeline(spark, images_df, partition_map=parts_df)
    print(json.dumps(result.metrics, indent=2))
    result.canonical.orderBy(F.desc("n_members")).show(10, truncate=False)
