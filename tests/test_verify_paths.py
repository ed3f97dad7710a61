"""Worker-side verification (verified_edges_from_files) is the one verify
path: a DataFrame input is staged to parquet by run_pipeline and must give
the same edges, clusters and canonical rows as a source_path run over the
same rows."""

from __future__ import annotations

import pytest

from dupion_spark.config import DedupConfig
from dupion_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def source_dir(images_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("vp") / "images_src")
    # production blob-table layout: no dictionary for unique payloads,
    # bounded pages (see sources/synth.py) — the page-selective gather's
    # fast path must engage on files written this way
    (
        images_df.coalesce(4).write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.page.size", str(64 * 1024))
        .parquet(path)
    )
    return path


def test_worker_side_verify_matches_dataframe_path(spark, images_df, source_dir):
    """The same rows as a DataFrame input and as a source_path input."""
    cfg = DedupConfig()
    via_files = run_pipeline(
        spark, spark.read.parquet(source_dir), cfg, source_path=source_dir
    )
    via_df = run_pipeline(spark, images_df, cfg)

    edges_files = {
        (r["id_l"], r["id_r"], r["passed"], round(r["psnr"], 3), r["lcs_len"])
        for r in via_files.verified_edges.collect()
    }
    edges_df = {
        (r["id_l"], r["id_r"], r["passed"], round(r["psnr"], 3), r["lcs_len"])
        for r in via_df.verified_edges.collect()
    }
    assert edges_files == edges_df

    clusters_files = sorted(
        (r["image_id"], r["cluster_root"]) for r in via_files.clusters.collect()
    )
    clusters_df = sorted(
        (r["image_id"], r["cluster_root"]) for r in via_df.clusters.collect()
    )
    assert clusters_files == clusters_df

    canonical_files = sorted(tuple(r) for r in via_files.canonical.collect())
    canonical_df = sorted(tuple(r) for r in via_df.canonical.collect())
    assert canonical_files == canonical_df

    # gather accounting must be present and consistent. At this tiny scale
    # candidates touch most pages, so the density cutoff legitimately routes
    # row groups to the pyarrow fallback (that IS the designed behavior —
    # the page walk only pays when sparse); equality of edges/clusters above
    # already proves both read paths agree. Sparse-path engagement + savings
    # are proven by tests/test_pagegather.py.
    gm = {
        r["part_key"]: r["rows_out"]
        for r in via_files.lineage.filter(
            "stage = 'verified_edges' AND part_key LIKE 'gather_%'"
        ).collect()
    }
    assert gm, "gather metrics missing from lineage"
    assert 0 < gm["gather_bytes_read"] <= gm["gather_bytes_total"]
    assert gm["gather_pages_read"] <= gm["gather_pages_total"]


def test_payload_joins_never_broadcast_blob_side(spark, images_df):
    """The two payload joins in verified_edges must plan as sort-merge, never
    as a broadcast of the blob-bearing payload side. The static planner sizes
    a mapInPandas gather output from its locator INPUT (a few MB), so without
    the merge hints it broadcast the payload — collecting every candidate
    blob to the driver (measured at 300k: 16 tasks x ~83 MB of payload rows
    blew spark.driver.maxResultSize at 1 GiB and killed the checkpointed
    resume run). The hint must survive into the executed plan: AQE preserves
    user join hints when it replans."""
    from pyspark.sql import functions as F

    from dupion_spark.operators import verify

    cfg = DedupConfig()
    ids = [r["image_id"] for r in images_df.select("image_id").limit(40).collect()]
    pairs = spark.createDataFrame(
        [(a, b, "pixel") for a, b in zip(ids[::2], ids[1::2])],
        "id_l string, id_r string, band_src string",
    )
    edges = verify.verified_edges(pairs, images_df.withColumn("sid", F.col("image_id")), cfg)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    # both payload joins present as sort-merge; the blob side is never a
    # broadcast build (a broadcast semi-join would carry ids only, never
    # bytes, so it stays allowed)
    assert plan.count("SortMergeJoin") >= 2, plan
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "LeftSemi" in line, f"payload join broadcast a blob side: {line}"
