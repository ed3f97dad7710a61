"""Local replica of the driver's correctness harness for the MEDIA queries:
Spark mapInPandas decode paths vs DuckDB oracles over the materialized golden
tables (sources/synth_media.py single-process expected values). Runs at both
sf0.001 and sf0.01 to prove the oracles are not scale-bound."""

from __future__ import annotations

import math

import duckdb
import pytest

from dupion_spark import media_queries as MQ


def _norm(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return f"{value:.9g}"
    if isinstance(value, bool):
        return str(value)
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return str(value)


def _row_multiset(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(",".join(_norm(r[i]) for i in order) for r in rows)


QUERY_NAMES = sorted(MQ.media_queries())
CASES = [("sf0.01", n) for n in QUERY_NAMES] + [("sf0.001", n) for n in QUERY_NAMES]


@pytest.mark.parametrize("scale,name", CASES, ids=[f"{s}-{n}" for s, n in CASES])
def test_media_query_matches_golden_oracle(spark, scale, name):
    MQ.ensure_oracle_fixture(scale)
    spark_df = MQ.media_queries()[name](spark, f"/root/testdata/{scale}")
    spark_rows = [tuple(r) for r in spark_df.collect()]
    spark_cols = spark_df.columns

    con = duckdb.connect()
    res = con.execute(MQ.oracle_sql_for_scale(scale)[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    assert len(spark_rows) > 0, f"{name}: vacuous oracle (0 rows)"
    ms_spark = _row_multiset(spark_cols, spark_rows)
    ms_duck = _row_multiset(duck_cols, duck_rows)
    if ms_spark != ms_duck:
        diff = [(a, b) for a, b in zip(ms_spark, ms_duck) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_fixture_plants_are_non_vacuous():
    """The fixture must actually exercise the interesting paths: corrupt
    rows degrading to NULLs, planted video pairs, dropped resize rows."""
    import pandas as pd

    from dupion_spark.sources import synth_media as SM

    r = SM.generate_media(*MQ.SCALE_MEDIA["sf0.001"])
    assert r.golden_audio["fingerprint"].isna().sum() >= 2  # corrupt audio
    assert (r.golden_frames["frame_idx"] == -1).any()  # corrupt video
    assert len(r.golden_video_pairs) >= 2  # planted shared-frame pairs
    assert (r.golden_video_pairs["shared_frames"] >= SM.PAIR_MIN_SHARED).all()
    assert len(r.golden_resize) < len(r.media_images)  # undecodables dropped
    # q_media_codec_formats sizes its fan-out from this count
    assert len(r.codec_images) == SM.codec_image_count(MQ.SCALE_MEDIA["sf0.001"][2])

    # planted volume-scaled audio duplicates share the spectral fingerprint
    # (peak normalization) while differing in rms — the property that lets
    # operators/lsh.py band audio fingerprints exactly like image hashes
    _, golden, pairs = SM._gen_audio(MQ.SCALE_MEDIA["sf0.001"][0])
    assert len(pairs) >= 2
    gi = golden.set_index("audio_id")
    for id_l, id_r in pairs:
        assert gi.loc[id_l, "fingerprint"] == gi.loc[id_r, "fingerprint"]
        assert gi.loc[id_l, "rms"] != gi.loc[id_r, "rms"]


def test_codec_fixture_plants_are_non_vacuous():
    """The mixed real-format corpus must exercise its interesting paths:
    PNG/GIF/BMP of one frame share the canonical pixel sha, the JPEG of that
    frame differs (lossy), and truncated rows degrade to NULL."""
    from dupion_spark.sources import synth_media as SM

    _, golden = SM._gen_codec_images(48)
    assert golden["pixel_sha"].isna().sum() >= 3  # truncated rows
    assert set(golden["fmt"]) == {"png", "jpeg", "gif", "bmp", "tiff", "pnm"}
    by_group = golden.assign(
        group=golden["image_id"].str[4:].astype(int) // 6
    ).dropna(subset=["pixel_sha"])
    for group, g in by_group.groupby("group"):
        lossless = g[g["fmt"] != "jpeg"]["pixel_sha"]
        if len(lossless) >= 2:
            assert lossless.nunique() == 1, f"group {group} lossless split"
        jpeg = g[g["fmt"] == "jpeg"]["pixel_sha"]
        if len(jpeg) and len(lossless):
            assert jpeg.iloc[0] != lossless.iloc[0], f"group {group} jpeg collided"
