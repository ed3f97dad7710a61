"""Canonical election on hand-built clusters and reps rows: the ordering is
(byte_len ASC, exact_copies DESC, image_id ASC) within each cluster."""

from dupion_spark.operators import election


def test_canonical_tie_breaks(spark):
    # (image_id, cluster_root, byte_len, exact_copies)
    rows = [
        # equal byte_len: more exact copies beats the smaller image_id; a
        # larger row loses whatever its copies
        ("a0", "a0", 100, 1),
        ("a1", "a0", 100, 2),
        ("a2", "a0", 200, 5),
        # equal byte_len and copies: the smallest image_id wins
        ("b1", "b0", 100, 2),
        ("b0", "b0", 100, 2),
        # a shape-pruned row (1 copy) with the smallest byte_len wins
        ("c0", "c0", 80, 3),
        ("c1", "c0", 50, 1),
    ]
    clusters = spark.createDataFrame(
        [(i, root) for i, root, _, _ in rows], "image_id string, cluster_root string"
    )
    reps = spark.createDataFrame(
        [(i, i, n, c) for i, _, n, c in rows],
        "image_id string, rep_id string, byte_len long, exact_copies long",
    )
    got = {
        r["cluster_root"]: (r["canonical_image_id"], r["n_members"], r["total_bytes"])
        for r in election.canonical_map(clusters, reps).collect()
    }
    assert got == {
        "a0": ("a1", 3, 400),
        "b0": ("b0", 2, 200),
        "c0": ("c1", 2, 130),
    }
