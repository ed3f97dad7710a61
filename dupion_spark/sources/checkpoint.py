"""Stage checkpointing + lineage/metrics — resumable pipeline runs.

Reference analog: dupion persists its whole VFS arena as a zstd+msgpack cache
(dupion/src/vfs/deser.rs:232-275), validates each row by (ctime, size)
(vfs/entry.rs:173-198), and resumes hashing only what changed. The graft's
equivalent is per-STAGE snapshot tables:

- every stage writes its output as parquet under <root>/<stage>/ plus a
  manifest JSON carrying {stage, config_hash, parents' manifest hashes,
  row count, wall_ms}. The manifest hash chains (Merkle-style), so a resumed
  run reuses a stage iff the config AND the entire upstream chain are
  byte-identical — dupion's (ctime,size) validation generalized.
- a `lineage` table (stage, part_key, rows_in, rows_out, wall_ms, snapshot_id,
  resumed) and a `metrics` table accumulate per run (north_rule: per-partition
  lineage + metrics tables).

On a real deployment these writes target Iceberg tables; the manager PROBES
for a configured Iceberg catalog at construction (`iceberg_catalog`) and,
when one exists, writes each stage via `df.writeTo(<catalog>.<ns>.<stage>)
.createOrReplace()` and resumes via `spark.read.table` — snapshot ids come
from the catalog and land in the manifest. The sandbox has no Iceberg
runtime jar, so the probe returns None there and the layout falls back to
plain parquet + manifest with identical semantics (SURVEY.md §7 "hard
parts" (e)). The Merkle manifest chain is the same in both backends.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from hashlib import sha256
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dupion_spark.config import DedupConfig


@dataclass
class StageRecord:
    stage: str
    rows_out: int
    wall_ms: int
    resumed: bool
    manifest_hash: str


def fingerprint_files(source_path: str) -> str:
    """Input fingerprint for file-backed inputs: sha256 over the sorted
    (name, size, mtime_ns) triples — the graft of dupion's per-row
    (ctime, size) cache validation (vfs/entry.rs:173-198) to file granularity.
    A changed/added/removed input file changes the fingerprint, which changes
    every manifest hash in the chain, so nothing stale is reused WHOLE; the
    feature stage additionally keeps a per-file map (file_fingerprints) so a
    stale chain can still be recomputed INCREMENTALLY — only changed files'
    rows are re-extracted (pipeline.run_pipeline). File discovery is shared
    with the feature scan (sources/files.py) so the fingerprint covers
    exactly the files the scan reads."""
    h = sha256()
    for f, fp in sorted(file_fingerprints(source_path).items()):
        h.update(f"{os.path.basename(f)}:{fp};".encode())
    return h.hexdigest()[:16]


def file_fingerprints(source_path: str) -> dict[str, str]:
    """{file_path: "size:mtime_ns"} for every parquet file under the source —
    the per-FILE granularity of dupion's (ctime,size) row validation. The
    incremental feature rebuild keys row reuse on this map."""
    from dupion_spark.sources.files import list_parquet_files

    out = {}
    for f in list_parquet_files(source_path):
        st = os.stat(f)
        out[f] = f"{st.st_size}:{st.st_mtime_ns}"
    return out


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Capability probe: the name of a configured Iceberg Spark catalog, or
    None when the runtime jar / catalog config is absent (this sandbox).

    A catalog counts only if BOTH (a) some `spark.sql.catalog.<name>` points
    at an Iceberg catalog class and (b) that class actually loads in the JVM
    — config without the jar would fail at first writeTo, so the probe keeps
    the fallback decision up front."""
    try:
        entries = dict(spark.sparkContext.getConf().getAll())
    except Exception:  # pragma: no cover - defensive (connect-mode sessions)
        return None
    for key, value in entries.items():
        parts = key.split(".")
        if (
            key.startswith("spark.sql.catalog.")
            and len(parts) == 4
            and "iceberg" in value.lower()
        ):
            try:
                spark._jvm.java.lang.Class.forName(value)  # noqa: SLF001
            except Exception:
                return None
            return parts[3]
    return None


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        root: str | None,
        cfg: DedupConfig,
        input_fingerprint: str = "",
    ):
        self.spark = spark
        self.root = root
        self.cfg = cfg
        self.input_fingerprint = input_fingerprint
        self.records: list[StageRecord] = []
        # extra per-partition lineage rows stages may emit (e.g. the
        # incremental feature rebuild's rows_reused / rows_recomputed split)
        self.extra_lineage: list[tuple[str, str, int]] = []
        self._hashes: dict[str, str] = {}
        # table-format backend: Iceberg when a catalog is configured AND its
        # class loads; parquet+manifest otherwise. Manifest chain identical.
        self.catalog = iceberg_catalog(spark) if root else None
        self.namespace = (
            os.path.basename(os.path.normpath(root)).replace("-", "_").replace(".", "_")
            if root
            else ""
        )
        self.table_format = "iceberg" if self.catalog else "parquet+manifest"
        if root:
            os.makedirs(root, exist_ok=True)
            if self.catalog:
                self.spark.sql(
                    f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
                )

    def _table_ident(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    # -- internals -----------------------------------------------------------
    def _manifest_path(self, stage: str) -> str:
        assert self.root
        return os.path.join(self.root, f"{stage}.manifest.json")

    def _data_path(self, stage: str, expected_hash: str = "") -> str:
        """Stage data dirs are VERSIONED by manifest hash (`<stage>@<hash8>`)
        so an incremental rebuild can lazily READ the prior version while
        WRITING the new one — an in-place overwrite would delete the files a
        running read is scanning. Older versions are garbage-collected after
        the new manifest commits (_gc_stage_dirs)."""
        assert self.root
        if expected_hash:
            return os.path.join(self.root, f"{stage}@{expected_hash[:8]}")
        return os.path.join(self.root, stage)  # legacy unversioned layout

    def _gc_stage_dirs(self, stage: str, keep: str) -> None:
        import shutil

        for entry in os.listdir(self.root):
            if entry == keep or not os.path.isdir(os.path.join(self.root, entry)):
                continue
            if entry == stage or entry.startswith(f"{stage}@"):
                shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)

    # -- prior-run access (incremental rebuilds) ------------------------------
    def prior_manifest(self, stage: str) -> dict | None:
        """The stage's on-disk manifest from the PREVIOUS run, valid or stale.
        Incremental rebuilds use its per-file map / config hash to decide what
        is still reusable at row granularity."""
        if not self.root:
            return None
        path = self._manifest_path(stage)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def prior_output(self, stage: str) -> DataFrame | None:
        """The stage's previous parquet output (None when absent or when the
        Iceberg backend owns the tables — createOrReplace would race a lazy
        read of the same table, so the catalog path always rebuilds whole)."""
        if self.catalog:
            return None
        prior = self.prior_manifest(stage)
        if not prior:
            return None
        data_dir = prior.get("data_dir", stage)
        path = os.path.join(self.root, data_dir)
        if not os.path.isdir(path):
            return None
        return self.spark.read.parquet(path)

    def _expected_manifest(self, stage: str, parents: list[str]) -> dict:
        missing = [p for p in parents if p not in self._hashes]
        if missing:
            # a misspelled/unbuilt parent silently weakening the chain is
            # exactly the bug class the Merkle chain exists to prevent
            raise ValueError(f"stage {stage!r}: unknown parent stages {missing}")
        return {
            "stage": stage,
            "config_hash": self.cfg.config_hash(),
            # root stages (no parents) are fingerprinted by the INPUT, so a
            # resumed run over different data cannot reuse stale parquet
            "input_hash": self.input_fingerprint if not parents else "",
            "parent_hashes": [self._hashes[p] for p in parents],
        }

    @staticmethod
    def _hash_manifest(manifest: dict) -> str:
        core = {
            k: manifest.get(k, "")
            for k in ("stage", "config_hash", "input_hash", "parent_hashes")
        }
        return sha256(json.dumps(core, sort_keys=True).encode()).hexdigest()[:16]

    # -- public --------------------------------------------------------------
    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        parents: list[str] | None = None,
        barrier: bool | str = True,
        manifest_extra: Callable[[], dict] | None = None,
    ) -> DataFrame:
        """Run (or resume) a named stage. With no checkpoint root, just builds.

        barrier (no-checkpoint-root mode only) — three levels, because every
        EAGER localCheckpoint is a job BARRIER (~1s of parallelism-independent
        wall each) and a pipeline of a dozen stages pays that serially
        regardless of cluster size:
          True    eager localCheckpoint: its own job, plan truncated NOW.
                  Only for anchor stages whose downstream plan would otherwise
                  grow past what AQE re-plans cheaply.
          "lazy"  localCheckpoint(eager=False): NO extra job — the first
                  consuming action materializes+caches it and truncates the
                  plan for every later consumer. Multi-consumer stages get
                  compute-once semantics for free; the barrier cost folds into
                  a job that was running anyway.
          False   plain plan composition (single-consumer projections whose
                  consumers shuffle on the same key — ReuseExchange dedups)."""
        parents = parents or []
        start = time.time()
        if not self.root:
            # no checkpoint root: localCheckpoint per the barrier level. Eager
            # anchors exist because feeding the WHOLE multi-stage pipeline to
            # AQE as one giant tree makes it re-plan the full tree after every
            # shuffle (measured 109s vs 35s for the same work stage-by-stage
            # at sf0.1) — but most stages only need the lazy flavor.
            df = build()
            if barrier == "lazy":
                df = df.localCheckpoint(eager=False)
            elif barrier:
                df = df.localCheckpoint(eager=True)
            self.records.append(StageRecord(name, -1, int((time.time() - start) * 1000), False, ""))
            return df

        expected = self._expected_manifest(name, parents)
        expected_hash = self._hash_manifest(expected)
        manifest_path = self._manifest_path(name)
        data_path = self._data_path(name, expected_hash)

        if os.path.exists(manifest_path):
            with open(manifest_path) as fh:
                on_disk = json.load(fh)
            if self._hash_manifest(on_disk) == expected_hash:
                resume_path = os.path.join(
                    self.root, on_disk.get("data_dir", name)
                )
                df = (
                    self.spark.read.table(self._table_ident(name))
                    if self.catalog
                    else self.spark.read.parquet(resume_path)
                )
                self._hashes[name] = expected_hash
                self.records.append(
                    StageRecord(name, on_disk.get("rows", -1),
                                int((time.time() - start) * 1000), True, expected_hash)
                )
                return df

        df = build()
        snapshot_id = int(time.time() * 1000)
        if self.catalog:
            # Iceberg backend: stage snapshot via the catalog; the table's
            # own snapshot id goes into the manifest (resumable lineage)
            ident = self._table_ident(name)
            df.writeTo(ident).using("iceberg").createOrReplace()
            df = self.spark.read.table(ident)
            snap = self.spark.sql(
                f"SELECT snapshot_id FROM {ident}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1"
            ).collect()
            if snap:
                snapshot_id = int(snap[0][0])
        else:
            df.write.mode("overwrite").parquet(data_path)
            df = self.spark.read.parquet(data_path)
        rows = df.count()
        wall_ms = int((time.time() - start) * 1000)
        manifest = dict(expected, rows=rows, wall_ms=wall_ms,
                        snapshot_id=snapshot_id, table_format=self.table_format,
                        data_dir=os.path.basename(data_path))
        if manifest_extra:
            manifest.update(manifest_extra())
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        if not self.catalog:
            # the new version is committed — retire prior versions (they were
            # only kept so an incremental build could read them during write)
            self._gc_stage_dirs(name, keep=os.path.basename(data_path))
        self._hashes[name] = expected_hash
        self.records.append(StageRecord(name, rows, wall_ms, False, expected_hash))
        return df

    def lineage_df(self) -> DataFrame:
        """The run's lineage as a DataFrame (stage-level; partition-carrying
        stages additionally write per-part_key rows via `partition_lineage`)."""
        rows = [
            (r.stage, "*", r.rows_out, r.wall_ms, r.resumed, r.manifest_hash)
            for r in self.records
        ] + [
            (stage, part_key, rows_out, None, False, "")
            for stage, part_key, rows_out in self.extra_lineage
        ]
        return self.spark.createDataFrame(
            rows, "stage string, part_key string, rows_out long, wall_ms long, "
                  "resumed boolean, manifest_hash string"
        )


def partition_lineage(df: DataFrame, stage: str, part_col: str = "part_key") -> DataFrame:
    """Per-partition row counts for a partition-keyed stage output."""
    return df.groupBy(part_col).agg(F.count(F.lit(1)).alias("rows_out")).select(
        F.lit(stage).alias("stage"),
        F.col(part_col).alias("part_key"),
        "rows_out",
    )
