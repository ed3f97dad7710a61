"""Image-pipeline queries for the driver contract — value-checked vs golden.

These run the actual near-duplicate engine on the deterministic synthetic
image+caption fixture (BASELINE.json input_hint shape; the driver's TPC-H-ish
tables carry no image payloads, and the task mandates synthesizing the input
table deterministically at small scale). The fixture is materialized once per
scale under data/ and reused.

Oracle strategy: the fixture generator (sources/synth.py) writes GOLDEN
parquet tables — cluster assignments from its single-process union-find
oracle, plus golden_features with every expected per-row hash computed in
plain numpy/hashlib, independent of the Spark path. The oracle SQL reads
those tables with DuckDB read_parquet(), so the driver value-checks the
pipeline outputs (exact groups, clusters, canonical election, rollup,
shadow groups, treediff) instead of rows-only counts. The pixel decode
itself is not SQL-expressible — the golden table IS its expected output.

Scale binding: the oracle SQL is generated PER SCALE (every scale
materializes its own golden parquet), bound at image_oracle_sql() call time
to ORACLE_SCALE — the driver's correctness scale, overridable via
$SPARK_GRAFT_ORACLE_SF so a driver that value-checks at a different sf still
gets matching oracles (oracle_sql_for_scale exposes any scale directly; the
parity test exercises sf0.001 AND sf0.01).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dupion_spark.config import DedupConfig
from dupion_spark.operators import exact
from dupion_spark.operators import features as features_op
from dupion_spark.pipeline import run_pipeline
from dupion_spark.sources.synth import materialize

DATA_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")

# fixture rows per driver scale factor (sf_dir basename -> n_rows)
SCALE_ROWS = {"sf0.001": 300, "sf0.01": 1200, "sf0.1": 6000}

# the driver's correctness scale — image_oracle_sql() binds to this fixture
# (the Spark side follows whatever sf_dir it is given; oracle_sql_for_scale
# generates matching SQL for any scale in SCALE_ROWS)
ORACLE_SCALE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.01")


def _fixture_dir(sf_dir: str) -> tuple[str, int]:
    scale = os.path.basename(sf_dir.rstrip("/")) or "sf0.001"
    n_rows = SCALE_ROWS.get(scale, 300)
    out = os.path.join(DATA_ROOT, f"synth_{scale}")
    materialize(out, n_rows)
    return out, n_rows


def ensure_oracle_fixture(scale: str = None) -> None:
    """Materialize the given scale's fixture so read_parquet targets exist
    even if the driver evaluates oracle SQL before any Spark query runs."""
    scale = scale or ORACLE_SCALE
    materialize(os.path.join(DATA_ROOT, f"synth_{scale}"), SCALE_ROWS[scale])


def _images_path(sf_dir: str) -> str:
    fdir, _ = _fixture_dir(sf_dir)
    return os.path.join(fdir, "images.parquet")


def load_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(_images_path(sf_dir))


def load_partition_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    fdir, _ = _fixture_dir(sf_dir)
    return spark.read.parquet(os.path.join(fdir, "partition_map.parquet"))


def _hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's `hashes` table over the fixture file: features read
    and hash the payloads worker-side, as in run_pipeline."""
    return features_op.hashes_from_features(
        features_op.extract_features_from_files(
            spark, _images_path(sf_dir), DedupConfig()
        )
    )


def _run(spark: SparkSession, sf_dir: str, partition_map: DataFrame | None = None):
    """The pipeline over the fixture file itself (source_path), so nothing
    is staged: features and verify read its row groups worker-side."""
    path = _images_path(sf_dir)
    return run_pipeline(spark, spark.read.parquet(path), DedupConfig(),
                        partition_map=partition_map, source_path=path)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def q_img_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate pixel groups (dupion's default output, SURVEY §3.1)."""
    return exact.exact_groups(_hashes(spark, sf_dir)).select(
        F.hex(F.col("pixel_sha256")).alias("pixel_hash"),
        "n_members",
        "total_bytes",
        F.array_join("members", ",").alias("members"),
    )


def q_img_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline -> cluster assignments (image_id, cluster_root)."""
    return _run(spark, sf_dir).clusters


def q_img_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster canonical map via senpai election (O6 graft)."""
    return _run(spark, sf_dir).canonical


def q_img_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition rollup hashes (A4 graft)."""
    return _run(spark, sf_dir, load_partition_map(spark, sf_dir)).rollup


def q_img_groups_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 shadow-rule group output (groups.rs:4-56) over the image clusters:
    rule 2 (the reference default)."""
    from dupion_spark.operators.groups import groups_with_shadow_rule

    result = _run(spark, sf_dir, load_partition_map(spark, sf_dir))
    out = groups_with_shadow_rule(result.clusters, result.shadows, rule=2)
    return out.select(
        "cluster_root", "n_members", "n_shadowed", "n_visible",
        F.array_join("members", ",").alias("members"),
    )


def q_img_treediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 treediff (treediff.rs:96-131) between the two planted duplicate
    partitions dupA/dupB: every rel_name should classify as 2 (equal)."""
    from dupion_spark.operators.treediff import diff_rows

    parts = load_partition_map(spark, sf_dir)
    keyed = parts.join(_hashes(spark, sf_dir), "image_id").withColumn(
        "content_hash", F.coalesce(F.hex("pixel_sha256"), F.col("byte_sha256"))
    )
    side_a = keyed.filter(F.col("part_key") == "dupA")
    side_b = keyed.filter(F.col("part_key") == "dupB")
    return diff_rows(side_a, side_b)


def q_img_tree_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/O3 tree node table over the image fixture (operators/tree.py):
    per-node label, reference child sort rank, and the 4-member DUPS preview.
    Value-checked against the single-process golden_tree table (labels,
    ranks, previews are deterministic functions of golden_features +
    partition_map — sources/synth.py)."""
    from dupion_spark.operators import rollup as rollup_op
    from dupion_spark.operators.tree import tree_rows

    parts = load_partition_map(spark, sf_dir)
    # two consumers (rollup and tree rows): hash the fixture once
    hashes = _hashes(spark, sf_dir).localCheckpoint(eager=False)
    roll = rollup_op.rollup_table(hashes, parts)
    return tree_rows(hashes, parts, roll)


# ---------------------------------------------------------------------------
# oracle SQL — generated per scale (each scale has its own golden parquet)
# ---------------------------------------------------------------------------
def oracle_sql_for_scale(scale: str) -> dict[str, str]:
    """The seven image-query oracles bound to the given scale's golden tables.

    Pure string generation — call ensure_oracle_fixture(scale) (or any Spark
    query at that scale) to materialize the read_parquet targets."""

    def g(table: str) -> str:
        path = os.path.join(DATA_ROOT, f"synth_{scale}", f"{table}.parquet")
        return f"read_parquet('{path}')"

    sql_exact_groups = f"""
SELECT pixel_sha256_hex AS pixel_hash, count(*) AS n_members,
       CAST(sum(byte_len) AS BIGINT) AS total_bytes,
       array_to_string(list_sort(list(image_id)), ',') AS members
FROM {g('golden_features')}
GROUP BY pixel_sha256_hex HAVING count(*) > 1
"""

    sql_clusters = f"""
SELECT image_id, min(image_id) OVER (PARTITION BY cluster_id) AS cluster_root
FROM {g('golden_clusters')}
"""

    sql_canonical = f"""
WITH gc AS (
  SELECT image_id, min(image_id) OVER (PARTITION BY cluster_id) AS cluster_root
  FROM {g('golden_clusters')}
), cp AS (
  SELECT pixel_sha256_hex, count(*) AS copies
  FROM {g('golden_features')} GROUP BY 1
), e AS (
  SELECT gc.cluster_root, gf.image_id, gf.byte_len, cp.copies
  FROM gc JOIN {g('golden_features')} gf USING (image_id)
          JOIN cp USING (pixel_sha256_hex)
)
SELECT cluster_root, image_id AS canonical_image_id, n_members, total_bytes
FROM (
  SELECT e.*,
         row_number() OVER (PARTITION BY cluster_root
           ORDER BY byte_len ASC, copies DESC, image_id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster_root) AS n_members,
         CAST(sum(byte_len) OVER (PARTITION BY cluster_root) AS BIGINT) AS total_bytes
  FROM e
) WHERE rn = 1
"""

    sql_rollup = f"""
SELECT pm.part_key,
       sha256(string_agg(pm.rel_name || ':' || gf.content_hash, '|'
              ORDER BY pm.rel_name || ':' || gf.content_hash)) AS rollup_hash,
       count(*) AS rollup_count,
       CAST(sum(gf.byte_len) AS BIGINT) AS rollup_bytes
FROM {g('partition_map')} pm
JOIN {g('golden_features')} gf USING (image_id)
GROUP BY pm.part_key
"""

    sql_groups_shadow = f"""
WITH ro AS (
  SELECT pm.part_key,
         sha256(string_agg(pm.rel_name || ':' || gf.content_hash, '|'
                ORDER BY pm.rel_name || ':' || gf.content_hash)) AS rollup_hash
  FROM {g('partition_map')} pm
  JOIN {g('golden_features')} gf USING (image_id)
  GROUP BY pm.part_key
), tw AS (
  SELECT part_key FROM (
    SELECT part_key, count(*) OVER (PARTITION BY rollup_hash) AS n FROM ro
  ) WHERE n > 1
), sh AS (
  SELECT pm.image_id,
         pm.part_key IN (SELECT part_key FROM tw) AS shadowed
  FROM {g('partition_map')} pm
), gc AS (
  SELECT image_id, min(image_id) OVER (PARTITION BY cluster_id) AS cluster_root
  FROM {g('golden_clusters')}
), g AS (
  SELECT gc.cluster_root,
         count(*) AS n_members,
         CAST(sum(CASE WHEN sh.shadowed THEN 1 ELSE 0 END) AS BIGINT) AS n_shadowed,
         count(*) - CAST(sum(CASE WHEN sh.shadowed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_visible,
         array_to_string(list_sort(list(gc.image_id)), ',') AS all_members,
         array_to_string(list_sort(list(gc.image_id) FILTER (WHERE NOT sh.shadowed)), ',')
             AS visible_members
  FROM gc JOIN sh USING (image_id)
  GROUP BY gc.cluster_root HAVING count(*) > 1
)
SELECT cluster_root, n_members, n_shadowed, n_visible,
       CASE WHEN n_visible <> 1 THEN visible_members ELSE all_members END AS members
FROM g WHERE NOT ((n_visible <> 1) AND n_visible <= 1)
"""

    sql_treediff = f"""
WITH k AS (
  SELECT pm.part_key, pm.rel_name, gf.content_hash
  FROM {g('partition_map')} pm
  JOIN {g('golden_features')} gf USING (image_id)
), a AS (SELECT rel_name, content_hash AS hash_a FROM k WHERE part_key = 'dupA'),
   b AS (SELECT rel_name, content_hash AS hash_b FROM k WHERE part_key = 'dupB')
SELECT rel_name, hash_a, hash_b,
       CASE WHEN hash_a = hash_b THEN 2
            WHEN hash_a IS NULL OR hash_b IS NULL THEN 1
            ELSE 0 END AS status
FROM a FULL OUTER JOIN b USING (rel_name)
"""

    sql_tree_rows = f"""
SELECT parent, name, icon, icon_prio, dups, size, label, child_rank, preview
FROM {g('golden_tree')}
"""

    return {
        "img_exact_groups": sql_exact_groups,
        "img_clusters": sql_clusters,
        "img_canonical": sql_canonical,
        "img_rollup": sql_rollup,
        "img_groups_shadow": sql_groups_shadow,
        "img_treediff": sql_treediff,
        "img_tree_rows": sql_tree_rows,
    }


def image_queries():
    return {
        "img_exact_groups": q_img_exact_groups,
        "img_clusters": q_img_clusters,
        "img_canonical": q_img_canonical,
        "img_rollup": q_img_rollup,
        "img_groups_shadow": q_img_groups_shadow,
        "img_treediff": q_img_treediff,
        "img_tree_rows": q_img_tree_rows,
    }


def image_oracle_sql():
    """DuckDB oracles over the materialized golden tables at the driver's
    correctness scale (see module doc; override via $SPARK_GRAFT_ORACLE_SF)."""
    ensure_oracle_fixture()
    return oracle_sql_for_scale(ORACLE_SCALE)
