"""End-to-end near-duplicate pipeline orchestration.

The staged dataflow (SURVEY.md §3.1 "Spark shape"):

    images
      ├─ features: one worker-side decode pass; each row gets a long sid
      ├─ exact:   feature-pass pixel SHA-256 → shape prune → hash groups
      ├─ reps:    collapse exact-identical rows to one LSH node; each row
      │           carries its exact-group size
      ├─ sigs:    MinHash(caption) + SimHash/pHash(pixels) per rep
      ├─ bands:   LSH band explode → band_key
      ├─ pairs:   one bucket kernel per key shuffle (+ hub stars and
      │           sub-bands for over-cap buckets)
      ├─ edges:   PSNR/LCS verification of candidate pairs; the payload
      │           gather reads each endpoint's image_id too
      ├─ cc:      connected components over the edges' image_ids (one
      │           union-find task when small, else large-star/small-star
      │           rounds); a component's root is its minimum image_id
      ├─ clusters: rep assignments expanded to all rows + singletons
      ├─ canonical: senpai election per cluster (O6) from clusters + reps
      └─ rollup/shadow: per-partition rollup + duplicated-partition shadows

One id space, like dupion's integer VfsId: the sid keys every table after
features and locates each payload. Names enter once, where verify reads rows,
so no stage joins them back; image_id must be the input's primary key.

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


def _named(edges: DataFrame) -> DataFrame:
    """Verified edges over their endpoints' names, id_l < id_r: the
    PipelineResult outputs' way out of the sid space."""
    return edges.select(
        F.least("name_l", "name_r").alias("id_l"), F.greatest("name_l", "name_r").alias("id_r"),
        "band_src", "psnr", "lcs_len", "passed",
    )


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
    # granularity: the features manifest stores a per-file fingerprint and
    # file index map; when the chain is stale but SOME input files are
    # unchanged, the rebuild reuses their checkpointed feature rows (selected
    # by sid >> 40, the file index) and re-extracts (decodes) ONLY new or
    # changed files. An unchanged file keeps its index and a new or changed
    # one gets an index from the prior next_file_idx on, so a sid never
    # names two contents: every row with sid >= fresh_sid is fresh content,
    # and a prior sid names the same content or no current row. At 10^12
    # rows with daily appends this is the difference between re-decoding the
    # corpus and decoding the delta.
    prior_feats = mgr.prior_manifest("features")
    incremental = bool(
        prior_feats and prior_feats["files"]
        and prior_feats["config_hash"] == cfg.config_hash()
    )
    next_idx = prior_feats["next_file_idx"] if incremental else 0
    fresh_sid = next_idx << features_op.FILE_SHIFT
    incr: dict = {"reused": False, "manifest": {}}

    def _file_table(files: dict[str, int]) -> DataFrame:
        """Tiny broadcast (file_idx, path) table: a `Column.isin(<list>)`
        would inline up to 10^6 literals into the plan, a broadcast join
        keeps it O(1)."""
        return F.broadcast(spark.createDataFrame(
            sorted((i, p) for p, i in files.items()), "file_idx long, path string"
        ))

    def _features() -> DataFrame:
        current = file_fingerprints(source_path)
        prior_files = prior_feats["files"] if incremental else {}
        unchanged = {p: prior_files[p]["idx"] for p, fp in current.items()
                     if p in prior_files and prior_files[p]["fp"] == fp}
        prior_df = mgr.prior_output("features") if unchanged else None
        if prior_df is None:
            unchanged = {}
        fresh = sorted(set(current) - set(unchanged))
        files = {**unchanged, **{p: next_idx + i for i, p in enumerate(fresh)}}
        incr["manifest"] = {
            "files": {p: {"fp": current[p], "idx": i} for p, i in files.items()},
            "next_file_idx": next_idx + len(fresh),
        }

        def extract(paths: list[str]) -> DataFrame:
            return features_op.extract_features_from_files(
                spark, source_path, cfg, files_with_idx=[(p, files[p]) for p in paths]
            )

        if not unchanged:
            return extract(fresh)
        incr["reused"] = True
        reused = prior_df.join(
            _file_table(unchanged),
            F.shiftright("sid", features_op.FILE_SHIFT) == F.col("file_idx"), "left_semi",
        )
        return reused.unionByName(extract(fresh)) if fresh else reused

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
    if incr["reused"]:
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

    # signatures feeds bands only: a cheap column slice of the MATERIALIZED
    # feature anchor, so no extra barrier is needed
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
    # never hit a barrier or a shuffle. Pairs and verified edges key on the
    # reps' sids; the verify gather adds the endpoints' names.
    # star-recall exposure counter: pairs whose ONLY provenance is hub-star
    # links (band_src 'star_*', operators/lsh) are the population exposed to
    # the documented over-cap star caveat — surfaced per run so saturation
    # degradation is visible instead of latent.
    pairs = mgr.stage(
        "pairs", lambda: lsh.candidate_pairs(bands, cfg, n_reps=n_images),
        ["bands"],
        counters={"star_only_pairs": F.count_if(F.col("band_src").startswith("star_"))},
    )
    mgr.extra_lineage.append(
        ("pairs", "star_only_pairs", mgr.record("pairs").counters["star_only_pairs"])
    )
    # the sid -> path map of the payload gather: this run's file indices,
    # or the resumed features manifest's
    files = (incr["manifest"] or prior_feats)["files"]

    def _verify() -> DataFrame:
        # incremental verdict reuse: a prior (id_l, id_r) verdict is valid
        # for a current pair over the same sids, because a prior sid names
        # the same content or no current row (see above), and the left join
        # keeps only pairs the CURRENT pair stage generated (so the edge set
        # equals a from-scratch run's exactly). That holds only for verdicts
        # computed against the prior features: a run that wrote features and
        # then failed before verify leaves older verdicts behind, whose
        # changed files the prior manifest already counts as unchanged, so
        # the verdicts' features parent must be the prior features manifest.
        # One left join, materialized once, splits the pairs; unmatched pairs
        # are verified.
        fresh_pairs, cached = pairs, None
        prior_manifest = mgr.prior_manifest("verified_edges")
        if (
            incr["reused"]
            and prior_manifest
            and prior_manifest["parent_hashes"][-1] == mgr.manifest_hash(prior_feats)
        ):
            prior_edges = mgr.prior_output("verified_edges")
            if prior_edges is not None:
                valid = prior_edges.drop("band_src").withColumn("_hit", F.lit(True))
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
                cached = joined.filter(hit).drop("_hit")
                fresh_pairs = joined.filter(~hit).select("id_l", "id_r", "band_src")
        # the sids locate the payloads: verify reads them worker-side — pair
        # bytes never cross the Arrow boundary
        out = verify.verified_edges_from_files(
            fresh_pairs, _file_table({p: f["idx"] for p, f in files.items()}), cfg,
            gather_metrics=gather_acc,
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
        # on the reps' names, so a component's root is its minimum image_id
        near = edges.filter(F.col("passed")).select(
            F.col("name_l").alias("id_l"), F.col("name_r").alias("id_r")
        )
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

    named = _named(edges)
    return PipelineResult(
        hashes=hashes.drop("sid"),
        exact_groups=groups,
        clusters=clusters,
        canonical=canonical,
        verified_edges=named,
        # verified_edges holds exactly one row per candidate pair
        candidate_pairs=named.select("id_l", "id_r", "band_src"),
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
