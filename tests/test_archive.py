"""Archive source (S7): container rows explode to child rows; archives keep
their dual file+dir nature (reference zip/mod.rs:8-90, platterwalker.rs:352-354).
"""

from __future__ import annotations

import numpy as np
import pytest

from dupion_spark.config import DedupConfig
from dupion_spark.functions.codec import encode_png
from dupion_spark.operators import exact, rollup
from dupion_spark.operators import features as features_op
from dupion_spark.sources.archive import (
    flatten_with_archives,
    pack_tar,
    pack_zip,
)


def _img(rng, dim=16):
    return rng.integers(0, 255, size=(dim, dim, 3)).astype(np.uint8)


def _hashes(spark, flat, tmp_path_factory):
    """The pipeline's hashes stage over flattened rows: staged to parquet,
    hashed by the feature pass, then shape-pruned."""
    src = str(tmp_path_factory.mktemp("archive_src") / "flat")
    flat.select("image_id", "bytes", "caption").write.parquet(src)
    feats = features_op.extract_features_from_files(spark, src, DedupConfig())
    return features_op.hashes_from_features(feats)


@pytest.fixture(scope="module")
def archive_fixture(spark):
    rng = np.random.default_rng(7)
    cfg = DedupConfig()
    shared = _img(rng)          # pixels shared between a loose row and members
    loose = encode_png(shared)
    a_members = [
        ("m0.png", loose, "cap zero"),
        ("m1.png", encode_png(_img(rng)), "cap one"),
    ]
    twin_bytes = pack_zip(a_members)          # arcA and arcB: identical content
    inner = pack_zip([("deep.png", encode_png(_img(rng)), "deep cap")])
    nested_bytes = pack_zip([("inner.zip", inner, "")])

    rows = [
        ("loose0", loose, 16, 16, "png", "loose cap", 0),
        ("arcA", twin_bytes, 0, 0, "zip", "", 0),
        ("arcB", twin_bytes, 0, 0, "zip", "", 0),
        ("arcNest", nested_bytes, 0, 0, "zip", "", 0),
    ]
    images = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long"
    )
    flat, cmap = flatten_with_archives(images, cfg)
    return flat.cache(), cmap.cache()


def test_children_become_rows(archive_fixture):
    flat, _ = archive_fixture
    ids = {r["image_id"] for r in flat.select("image_id").collect()}
    assert {"arcA/m0.png", "arcA/m1.png", "arcB/m0.png", "arcB/m1.png"} <= ids
    assert "arcNest/inner.zip" in ids            # the nested container itself
    assert "arcNest/inner.zip/deep.png" in ids   # ...and its member (depth 2)
    assert {"loose0", "arcA", "arcB", "arcNest"} <= ids  # parents keep file nature


def test_children_carry_captions_and_shapes(archive_fixture):
    flat, _ = archive_fixture
    row = flat.filter("image_id = 'arcA/m0.png'").collect()[0]
    assert row["caption"] == "cap zero"
    assert (row["w"], row["h"], row["fmt"]) == (16, 16, "png")


def test_archive_member_joins_exact_group_with_loose_row(
    spark, archive_fixture, tmp_path_factory
):
    flat, _ = archive_fixture
    hashes = _hashes(spark, flat, tmp_path_factory)
    groups = exact.exact_groups(hashes).collect()
    by_members = [set(g["members"]) for g in groups]
    assert {"loose0", "arcA/m0.png", "arcB/m0.png"} in by_members


def test_twin_archives_detected_as_duplicate_containers(
    spark, archive_fixture, tmp_path_factory
):
    flat, cmap = archive_fixture
    hashes = _hashes(spark, flat, tmp_path_factory)
    roll = rollup.rollup_table(hashes, cmap)
    twins = {r["part_key"]: r["n_twins"] for r in rollup.duplicated_partitions(roll).collect()}
    assert twins.get("arcA") == 2 and twins.get("arcB") == 2
    assert "arcNest" not in twins


def test_container_map_covers_every_child(archive_fixture):
    flat, cmap = archive_fixture
    child_ids = {r["image_id"] for r in cmap.select("image_id").collect()}
    flat_children = {
        r["image_id"]
        for r in flat.filter("image_id LIKE '%/%'").select("image_id").collect()
    }
    assert child_ids == flat_children


# --- tar / tar.gz / tar.xz (reference extension set, opts/mod.rs:52-62) ----
@pytest.fixture(scope="module")
def tar_fixture(spark):
    rng = np.random.default_rng(11)
    cfg = DedupConfig()
    shared = _img(rng)
    loose = encode_png(shared)
    members = [
        ("t0.png", loose, "tar cap zero"),
        ("t1.png", encode_png(_img(rng)), "tar cap one"),
    ]
    plain = pack_tar(members)
    twin_gz = pack_tar(members, compress="gz")       # tgzA/tgzB: identical
    inner_tar = pack_tar([("deep.png", encode_png(_img(rng)), "deep tar cap")])
    mixed_zip = pack_zip([("inner.tar", inner_tar, "")])  # tar nested in zip

    rows = [
        ("looseT", loose, 16, 16, "png", "loose tar cap", 0),
        ("tarA", plain, 0, 0, "tar", "", 0),
        ("tgzA", twin_gz, 0, 0, "tgz", "", 0),
        ("tgzB", twin_gz, 0, 0, "tgz", "", 0),
        ("txzA", pack_tar(members, compress="xz"), 0, 0, "txz", "", 0),
        ("mixNest", mixed_zip, 0, 0, "zip", "", 0),
        ("badTgz", b"\x1f\x8b\x08corrupt-not-really-gzip", 0, 0, "tgz", "", 0),
    ]
    images = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long"
    )
    flat, cmap = flatten_with_archives(images, cfg)
    return flat.cache(), cmap.cache()


def test_tar_children_all_formats(tar_fixture):
    flat, _ = tar_fixture
    ids = {r["image_id"] for r in flat.select("image_id").collect()}
    assert {"tarA/t0.png", "tgzA/t0.png", "tgzB/t1.png", "txzA/t0.png"} <= ids
    assert "mixNest/inner.tar" in ids              # tar nested inside zip
    assert "mixNest/inner.tar/deep.png" in ids     # ...explodes at depth 2
    assert "badTgz" in ids                          # corrupt container keeps
    assert not any(i.startswith("badTgz/") for i in ids)  # ...but no children


def test_tar_member_caption_and_dedup_with_loose(
    spark, tar_fixture, tmp_path_factory
):
    flat, _ = tar_fixture
    row = flat.filter("image_id = 'tarA/t0.png'").collect()[0]
    assert row["caption"] == "tar cap zero"
    assert (row["w"], row["h"], row["fmt"]) == (16, 16, "png")
    hashes = _hashes(spark, flat, tmp_path_factory)
    groups = exact.exact_groups(hashes).collect()
    by_members = [set(g["members"]) for g in groups]
    # the same pixels appear loose and inside tar / tar.gz / tar.xz
    assert any(
        {"looseT", "tarA/t0.png", "tgzA/t0.png", "txzA/t0.png"} <= m
        for m in by_members
    )


def test_twin_tar_archives_detected(spark, tar_fixture, tmp_path_factory):
    flat, cmap = tar_fixture
    hashes = _hashes(spark, flat, tmp_path_factory)
    roll = rollup.rollup_table(hashes, cmap)
    twins = {r["part_key"]: r["n_twins"]
             for r in rollup.duplicated_partitions(roll).collect()}
    # rollup twins are CONTENT twins: tar, tar.gz x2, and tar.xz of the same
    # members all share one rollup hash regardless of container framing —
    # exactly dupion's duplicated-folder semantics across archive formats
    assert {twins.get(k) for k in ("tarA", "tgzA", "tgzB", "txzA")} == {4}


def test_pack_tar_deterministic():
    members = [("a.png", b"AAA", "capA"), ("b.png", b"BBB", "capB")]
    assert pack_tar(members) == pack_tar(list(reversed(members)))
    assert pack_tar(members, "gz") == pack_tar(members, "gz")
    assert pack_tar(members, "xz") == pack_tar(members, "xz")


def test_corrupt_member_and_non_utf8_caption_degrade(spark):
    """F4 at MEMBER level: a member whose image magic lies (truncated body)
    keeps its row with no pixel props instead of killing the task, and a
    non-UTF-8 .caption sidecar never raises — the container's other members
    are unaffected."""
    rng = np.random.default_rng(11)
    cfg = DedupConfig()
    good = encode_png(_img(rng))
    truncated = good[:12]  # valid DPNG/PNG magic, unusable body
    blob = pack_zip([
        ("ok.png", good, "fine"),
        ("broken.png", truncated, ""),
    ])
    # non-UTF-8 caption sidecar attached manually
    import io
    import zipfile

    buf = io.BytesIO(blob)
    with zipfile.ZipFile(buf, "a") as zf:
        zf.writestr("ok2.png", good)
        zf.writestr("ok2.png.caption", b"\xff\xfe caf\xe9")  # raw non-UTF-8 bytes
    rows = [("arc", buf.getvalue(), 0, 0, "zip", "", 0)]
    images = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long"
    )
    flat, _ = flatten_with_archives(images, cfg)
    out = {r["image_id"]: r for r in flat.collect()}
    assert "arc/ok.png" in out and "arc/broken.png" in out
    assert out["arc/ok.png"]["w"] == 16 and out["arc/ok.png"]["phash"] != 0
    # degraded member: row kept, no pixel props, byte hash still possible
    assert out["arc/broken.png"]["w"] == 0 and out["arc/broken.png"]["phash"] == 0
    assert bytes(out["arc/broken.png"]["bytes"]) == truncated
    assert "arc/ok2.png" in out  # non-UTF-8 caption replaced, row intact


def test_zip_member_gif_bmp_exact_group_across_container(spark, tmp_path_factory):
    """A GIF inside a zip, a BMP inside another zip, and a loose PNG of the
    SAME frame must land in one exact group — real-format decode (LZW /
    BI_RGB) composes with the archive source's member explosion."""
    from dupion_spark.functions.bmp import encode_real_bmp
    from dupion_spark.functions.gif import encode_real_gif

    rng = np.random.default_rng(11)
    cfg = DedupConfig()
    frame = (_img(rng) // 32 * 32).astype(np.uint8)  # GIF-safe palette
    zip_a = pack_zip([("frame.gif", encode_real_gif(frame), "gif cap")])
    zip_b = pack_zip([("frame.bmp", encode_real_bmp(frame), "bmp cap")])
    rows = [
        ("loosePng", encode_png(frame), 16, 16, "png", "loose", 0),
        ("zipA", zip_a, 0, 0, "zip", "", 0),
        ("zipB", zip_b, 0, 0, "zip", "", 0),
    ]
    images = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long"
    )
    flat, _ = flatten_with_archives(images, cfg)
    groups = exact.exact_groups(_hashes(spark, flat, tmp_path_factory)).collect()
    by_members = [set(g["members"]) for g in groups]
    assert {"loosePng", "zipA/frame.gif", "zipB/frame.bmp"} in by_members
