import numpy as np
import pytest
from pyspark.sql import functions as F

from dupion_spark.functions import codec
from dupion_spark.operators import exact
from dupion_spark.operators import features as features_op
from dupion_spark.pipeline import run_pipeline

# rows whose shapes no fixture row has (the fixture's are 64x64, 32x32,
# 16x16 and two 1x1): they decode and get signatures, but a unique shape
# prunes their pixel hash
PRUNED = {"zpruned_7x5": (5, 7), "zpruned_3x9": (9, 3)}


@pytest.fixture(scope="module")
def images(spark, images_df):
    """The fixture rows plus the PRUNED rows."""
    rng = np.random.default_rng(3)
    extra = [
        (image_id, codec.encode_png(rng.integers(0, 256, (h, w, 3), dtype=np.uint8)),
         w, h, "png", f"a lone {w}x{h} image", None)
        for image_id, (h, w) in PRUNED.items()
    ]
    return images_df.unionByName(spark.createDataFrame(extra, images_df.schema)).cache()


@pytest.fixture(scope="module")
def features(spark, images, cfg, tmp_path_factory):
    """The feature table of the input rows staged to parquet."""
    src = str(tmp_path_factory.mktemp("exact_src") / "images")
    images.select("image_id", "bytes", "caption").write.parquet(src)
    return features_op.extract_features_from_files(spark, src, cfg).cache()


@pytest.fixture(scope="module")
def hashes(features):
    """The pipeline's hashes stage: the shape-pruned hash projection."""
    return features_op.hashes_from_features(features).cache()


@pytest.fixture(scope="module")
def reps(hashes):
    return exact.representatives(hashes).cache()


def test_hash_table_covers_all_rows(hashes, images):
    assert hashes.count() == images.count()
    assert hashes.select("image_id").distinct().count() == images.count()


def test_pruned_rows_cannot_be_exact_dups(features, hashes, images):
    """Shape-pruned rows (null pixel hash) must have a unique (w,h) — the
    prune is a NECESSARY condition, so no exact duplicate may be pruned."""
    decoded = features.filter(F.col("image_id").isin(*PRUNED)).collect()
    assert {(r["image_id"], r["h"], r["w"]) for r in decoded if r["phash"] is not None} == {
        (i, h, w) for i, (h, w) in PRUNED.items()
    }
    pruned = hashes.filter(F.col("pixel_sha256").isNull())
    assert {r["image_id"] for r in pruned.collect()} == set(PRUNED)
    joined = pruned.join(images.select("image_id", "w", "h"), "image_id")
    shape_counts = images.groupBy("w", "h").count().filter("count > 1")
    bad = joined.join(shape_counts.select("w", "h"), ["w", "h"], "left_semi")
    assert bad.count() == 0


def test_pruned_rows_through_pipeline(spark, images, cfg):
    """A pruned row goes through reps, clusters and the election as its own
    single-member cluster and canonical row."""
    result = run_pipeline(spark, images, cfg)
    assert result.metrics["n_pixel_hashed"] == images.count() - len(PRUNED)
    roots = {
        r["image_id"]: r["cluster_root"]
        for r in result.clusters.filter(F.col("image_id").isin(*PRUNED)).collect()
    }
    assert roots == {i: i for i in PRUNED}
    canon = result.canonical.filter(F.col("cluster_root").isin(*PRUNED)).collect()
    assert {(r["cluster_root"], r["canonical_image_id"], r["n_members"]) for r in canon} == {
        (i, i, 1) for i in PRUNED
    }


def test_exact_groups_match_golden_byte_dups(hashes, fixture_small):
    """Every planted byte-identical pair must land in the same pixel group."""
    assign = {
        r["image_id"]: bytes(r["pixel_sha256"])
        for r in hashes.filter(F.col("pixel_sha256").isNotNull()).collect()
    }
    blobs = fixture_small.images.set_index("image_id")["bytes"]
    for _, pair in fixture_small.golden_pairs.iterrows():
        if blobs[pair.id_l] == blobs[pair.id_r]:
            assert assign[pair.id_l] == assign[pair.id_r], (pair.id_l, pair.id_r)


def test_exact_groups_cover_planted_exact_kind(hashes, fixture_small):
    gc = fixture_small.golden_clusters
    exact_ids = set(gc[gc.kind == "exact"].image_id)
    groups = exact.exact_groups(hashes).collect()
    grouped_ids = {m for row in groups for m in row["members"]}
    assert exact_ids <= grouped_ids


def test_representatives_collapse_exact_groups(hashes, reps, images):
    assert reps.count() == images.count()
    joined = reps.join(hashes.select("image_id", "pixel_sha256"), "image_id")
    multi = (
        joined.filter(F.col("pixel_sha256").isNotNull())
        .groupBy("pixel_sha256")
        .agg(F.countDistinct("rep_id").alias("n_reps"))
        .filter(F.col("n_reps") > 1)
    )
    assert multi.count() == 0


def test_representatives_carry_group_size_and_byte_len(hashes, reps):
    """exact_copies is the size of the row's pixel_sha256 group (1 for a
    pruned row) and byte_len is the row's value in hashes."""
    sizes = hashes.groupBy("pixel_sha256").agg(F.count(F.lit(1)).alias("_n"))
    expected = hashes.join(sizes, "pixel_sha256", "left").select(
        "image_id",
        "byte_len",
        F.when(F.col("pixel_sha256").isNull(), F.lit(1))
        .otherwise(F.col("_n"))
        .alias("exact_copies"),
    )
    got = {tuple(r) for r in reps.select("image_id", "byte_len", "exact_copies").collect()}
    assert got == {tuple(r) for r in expected.collect()}
    assert reps.filter(F.col("exact_copies") > 1).count() > 0


def test_representatives_of_pruned_rows(spark):
    """A pruned row (null pixel_sha256) is its own rep with one copy, and
    an exact group's rows share the minimum member id and the group size."""
    hashes = spark.createDataFrame(
        [("b", 0, 20, b"s", b"p1"), ("a", 1, 20, b"s", b"p1"), ("c", 2, 30, b"t", b"p2"),
         ("d", 3, 40, b"u", None), ("e", 4, 40, b"u", None)],
        "image_id string, sid long, byte_len long, byte_sha256 binary, "
        "pixel_sha256 binary",
    )
    got = {tuple(r) for r in exact.representatives(hashes).collect()}
    assert got == {("a", 1, "a", 1, 20, 2), ("b", 0, "a", 1, 20, 2), ("c", 2, "c", 2, 30, 1),
                   ("d", 3, "d", 3, 40, 1), ("e", 4, "e", 4, 40, 1)}
