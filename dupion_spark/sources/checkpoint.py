"""Stage checkpointing + lineage/metrics — resumable pipeline runs.

Reference analog: dupion persists its whole VFS arena as a zstd+msgpack cache
(dupion/src/vfs/deser.rs:232-275), validates each row by (ctime, size)
(vfs/entry.rs:173-198), and resumes hashing only what changed. The graft's
equivalent is per-stage snapshot tables:

- every stage computes a manifest hash over {stage, config_hash, parents'
  manifest hashes} (the root stage also hashes the input fingerprint). The
  hash chains (Merkle-style), so a resumed run reuses a stage iff the config
  AND the entire upstream chain are byte-identical — dupion's (ctime,size)
  validation generalized.
- only PERSISTED_STAGES write their output as parquet under
  <root>/<stage>@<hash8>/ plus a manifest JSON carrying the hash inputs, the
  row count, the stage's observed counters and wall_ms. `features` and
  `verified_edges` persist because the incremental path reads their prior
  output; `pairs` (the LSH cascade) and `clusters` (connected components)
  because they are expensive to recompute. Every other stage is a cheap
  projection or aggregate of a persisted parent: it is rebuilt from its
  parents at its barrier level, under a root exactly as without one, and
  counts as resumed when all its parents resumed.
- row counts and counters come from the job that writes the stage (or runs
  its counted_checkpoint), via DataFrame.observe, not from a count job after.
- a `lineage` table (stage, part_key, rows_out, wall_ms, resumed,
  manifest_hash) and a `metrics` table accumulate per run (north_rule:
  per-partition lineage + metrics tables).

On a real deployment these writes target Iceberg tables; the manager PROBES
for a configured Iceberg catalog at construction (`iceberg_catalog`) and,
when one exists, writes each persisted stage via
`df.writeTo(<catalog>.<ns>.<stage>).createOrReplace()` and resumes via
`spark.read.table` — snapshot ids come from the catalog and land in the
manifest. The sandbox has no Iceberg runtime jar, so the probe returns None
there and the layout falls back to plain parquet + manifest with identical
semantics (SURVEY.md §7 "hard parts" (e)). The Merkle manifest chain is the
same in both backends.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from hashlib import sha256
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dupion_spark.config import DedupConfig

# the stages that write parquet + a manifest under a checkpoint root (see the
# module docstring for why these four)
PERSISTED_STAGES = frozenset({"features", "pairs", "verified_edges", "clusters"})

# the persisted tables' layout, stamped into every manifest. A manifest of
# another layout counts as absent, so a root written before a schema change
# rebuilds once instead of resuming, or rebuilding incrementally, into the
# old schema. Layout 2: features, pairs and verified_edges key on the long
# sid, and features lost their (src_file, src_rg, src_pos) locator columns.
# Layout 3: verified_edges carry their endpoints' names (name_l, name_r), and
# features lost their caption column.
LAYOUT = 3


@dataclass
class StageRecord:
    stage: str
    rows_out: int
    wall_ms: int
    resumed: bool
    manifest_hash: str
    counters: dict = field(default_factory=dict)


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
        self._resumed: dict[str, bool] = {}
        self._orphans_cleared = False
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

    def _data_path(self, stage: str, expected_hash: str) -> str:
        """Stage data dirs are VERSIONED by manifest hash (`<stage>@<hash8>`)
        so an incremental rebuild can lazily READ the prior version while
        WRITING the new one — an in-place overwrite would delete the files a
        running read is scanning. Older versions, and the unversioned
        `<stage>` dir of roots written before versioning, are
        garbage-collected after the new manifest commits (_gc_stage_dirs)."""
        assert self.root
        return os.path.join(self.root, f"{stage}@{expected_hash[:8]}")

    def _gc_stage_dirs(self, stage: str, keep: str) -> None:
        import shutil

        for entry in os.listdir(self.root):
            if entry == keep or not os.path.isdir(os.path.join(self.root, entry)):
                continue
            if entry == stage or entry.startswith(f"{stage}@"):
                shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)

    # -- prior-run access (incremental rebuilds) ------------------------------
    def prior_manifest(self, stage: str) -> dict | None:
        """The stage's on-disk manifest from the PREVIOUS run, valid or stale,
        or None when absent or of another LAYOUT. Incremental rebuilds use its
        per-file map / config hash to decide what is still reusable at row
        granularity."""
        if not self.root:
            return None
        path = self._manifest_path(stage)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            manifest = json.load(fh)
        return manifest if manifest.get("layout") == LAYOUT else None

    def prior_output(self, stage: str) -> DataFrame | None:
        """The stage's previous parquet output (None when absent or when the
        Iceberg backend owns the tables — createOrReplace would race a lazy
        read of the same table, so the catalog path always rebuilds whole)."""
        if self.catalog:
            return None
        prior = self.prior_manifest(stage)
        if not prior:
            return None
        path = os.path.join(self.root, prior["data_dir"])
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
            "layout": LAYOUT,
        }

    @staticmethod
    def manifest_hash(manifest: dict) -> str:
        core = {
            k: manifest.get(k, "")
            for k in ("stage", "config_hash", "input_hash", "parent_hashes")
        }
        return sha256(json.dumps(core, sort_keys=True).encode()).hexdigest()[:16]

    def _clear_orphans(self) -> None:
        """Remove the manifests and data dirs of stages this layout no longer
        persists (roots written when every stage was persisted hold them).
        Runs once, after the run's first committed write, so a root is never
        left without a complete resumable version."""
        if self._orphans_cleared:
            return
        self._orphans_cleared = True
        suffix = ".manifest.json"
        for entry in os.listdir(self.root):
            stage = entry[: -len(suffix)]
            if entry.endswith(suffix) and stage not in PERSISTED_STAGES:
                self._gc_stage_dirs(stage, keep="")
                os.remove(os.path.join(self.root, entry))

    @staticmethod
    def _count(df: DataFrame, counters: dict) -> dict:
        """rows + counters with an explicit aggregate job: the general path
        for a materialization that carries no observation."""
        row = df.agg(*_aggregates(counters)).collect()[0]
        return {k: int(v or 0) for k, v in row.asDict().items()}

    # -- public --------------------------------------------------------------
    def record(self, stage: str) -> StageRecord:
        """The stage's latest record: rows, counters, resumed."""
        return next(r for r in reversed(self.records) if r.stage == stage)

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        parents: list[str] | None = None,
        barrier: bool = True,
        manifest_extra: Callable[[], dict] | None = None,
        counters: dict | None = None,
    ) -> DataFrame:
        """Run (or resume) a named stage.

        Under a checkpoint root only PERSISTED_STAGES write parquet + a
        manifest and resume from it. Every other stage is built from its
        parents through the barrier path below, with or without a root; it
        still registers its manifest hash in the chain, and it counts as
        resumed exactly when all its parents resumed.

        barrier — two levels, because every eager localCheckpoint is a job
        BARRIER (~1s of parallelism-independent wall each) and a pipeline of
        a dozen stages pays that serially regardless of cluster size:
          True    counted_checkpoint: an eager localCheckpoint, its own job,
                  plan truncated NOW, rows and counters observed in that job.
                  For stages with several consumers, or whose count is
                  wanted.
          False   plain plan composition: the stage's jobs run at its first
                  read (single-consumer projections whose consumers shuffle
                  on the same key — ReuseExchange dedups). Not observed: the
                  row count is -1.
        A persisted stage's write is its barrier.

        counters: {name: aggregate Column} over the stage output, for a
        persisted or barrier=True stage. They and the row count are taken
        with DataFrame.observe in the job that writes the stage or runs its
        counted checkpoint, and a persisted stage keeps them in its
        manifest, so a resumed stage reports them with no job. A manifest
        without counters and the Iceberg backend take one aggregate job
        instead."""
        parents = parents or []
        counters = counters or {}
        start = time.time()
        expected_hash = ""
        if self.root:
            expected = self._expected_manifest(name, parents)
            expected_hash = self.manifest_hash(expected)
            if name in PERSISTED_STAGES:
                return self._persisted_stage(
                    name, build, expected, expected_hash, manifest_extra,
                    counters, start,
                )
            self._hashes[name] = expected_hash

        # barrier path: the same with or without a root. Eager anchors exist
        # because feeding the WHOLE multi-stage pipeline to AQE as one giant
        # tree makes it re-plan the full tree after every shuffle (measured
        # 109s vs 35s for the same work stage-by-stage at sf0.1).
        df = build()
        values = {"rows": -1}
        if barrier:
            df, values = counted_checkpoint(df, counters)
        resumed = bool(parents) and all(self._resumed.get(p) for p in parents)
        self._record(name, values, start, resumed, expected_hash)
        return df

    def _persisted_stage(
        self, name: str, build: Callable[[], DataFrame], expected: dict,
        expected_hash: str, manifest_extra: Callable[[], dict] | None,
        counters: dict, start: float,
    ) -> DataFrame:
        manifest_path = self._manifest_path(name)
        data_path = self._data_path(name, expected_hash)

        on_disk = self.prior_manifest(name)
        if on_disk and self.manifest_hash(on_disk) == expected_hash:
            resume_path = os.path.join(self.root, on_disk["data_dir"])
            df = (
                self.spark.read.table(self._table_ident(name))
                if self.catalog
                else self.spark.read.parquet(resume_path)
            )
            values = {"rows": on_disk["rows"], **on_disk.get("counters", {})}
            if any(k not in values for k in counters):
                # a manifest written before counters were kept
                values = self._count(df, counters)
            self._hashes[name] = expected_hash
            self._record(name, values, start, True, expected_hash)
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
            values = self._count(df, counters)
        else:
            obs = Observation()
            _observed(df, obs, counters).write.mode("overwrite").parquet(data_path)
            df = self.spark.read.parquet(data_path)
            values = obs.get
        wall_ms = int((time.time() - start) * 1000)
        manifest = dict(expected, rows=values["rows"], wall_ms=wall_ms,
                        snapshot_id=snapshot_id, table_format=self.table_format,
                        data_dir=os.path.basename(data_path),
                        counters={k: values[k] for k in counters})
        if manifest_extra:
            manifest.update(manifest_extra())
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        if not self.catalog:
            # the new version is committed — retire prior versions (they were
            # only kept so an incremental build could read them during write)
            self._gc_stage_dirs(name, keep=os.path.basename(data_path))
            self._clear_orphans()
        self._hashes[name] = expected_hash
        self._record(name, values, start, False, expected_hash)
        return df

    def _record(self, name: str, values: dict, start: float, resumed: bool,
                manifest_hash: str) -> None:
        self._resumed[name] = resumed
        self.records.append(StageRecord(
            name, int(values["rows"]), int((time.time() - start) * 1000),
            resumed, manifest_hash,
            {k: int(v) for k, v in values.items() if k != "rows"},
        ))

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


def _aggregates(counters: dict) -> list:
    return [F.count(F.lit(1)).alias("rows"),
            *(col.alias(name) for name, col in counters.items())]


def _observed(df: DataFrame, obs: Observation, counters: dict) -> DataFrame:
    """df with its row count and counters attached to `obs`; they are filled
    by the first job that runs df whole (a write or an eager checkpoint)."""
    return df.observe(obs, *_aggregates(counters))


def counted_checkpoint(
    df: DataFrame, counters: dict | None = None
) -> tuple[DataFrame, dict]:
    """(df eagerly localCheckpointed, {"rows": n, **counters}): the row count
    and the named aggregate Columns are observed in the checkpoint's own
    job, so no count or collect job follows. The one way the program
    materializes a table and counts it."""
    obs = Observation()
    df = _observed(df, obs, counters or {}).localCheckpoint(eager=True)
    return df, obs.get


def partition_lineage(df: DataFrame, stage: str, part_col: str = "part_key") -> DataFrame:
    """Per-partition row counts for a partition-keyed stage output."""
    return df.groupBy(part_col).agg(F.count(F.lit(1)).alias("rows_out")).select(
        F.lit(stage).alias("stage"),
        F.col(part_col).alias("part_key"),
        "rows_out",
    )
