"""Distributed deterministic DOCUMENT-corpus fixture (doc-path scale legs).

Mirror of sources/synth_spark.py for the text path: the doc dedup operators
(_minhash_sig / _doc_pairs in queries.py) get their scale evidence from a
corpus whose every row derives purely from (seed, row id) — partitioning-
independent, regenerable, no external data.

Planted structure per 100-row block:
  r in {0,1} -> near-duplicate pair (identical 60-word body; r==1 appends a
                short tail -> char-8-shingle Jaccard ~0.96, caught by the
                4x4 MinHash banding with p ~ 0.9995)
  r == 2     -> member of THE boilerplate crowd (one shared body + a unique
                tail): n/100 docs whose signatures collide -> every crowd
                band bucket is hot, exercising the star cap at scale
  else       -> unique 60-word text
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

VOCAB = np.asarray(
    (
        "aurora bramble cascade dune ember fjord glacier harbor islet juniper "
        "kestrel lagoon meadow nimbus orchard prairie quartz ridge summit "
        "thicket umber valley willow xenon yonder zephyr basalt copper drift "
        "elder falcon grove"
    ).split()
)

DOC_WORDS = 60


def _text(rng: np.random.Generator) -> str:
    """60 vocab words with a 9-digit token every 10 words: the numeric
    tokens diversify the char-8-shingle space the way real text's long tail
    does — a bare 31-word vocab made random doc pairs share enough shingles
    to band-collide at ~1 junk pair/doc, a quadratic term that would
    pollute the growth-law measurement with work real corpora don't have."""
    words = VOCAB[rng.integers(0, len(VOCAB), DOC_WORDS)]
    nums = rng.integers(0, 10**9, DOC_WORDS // 10)
    parts = []
    for j, w in enumerate(words):
        parts.append(str(w))
        if j % 10 == 9:
            parts.append(f"{nums[j // 10]:09d}")
    return " ".join(parts)


def _make_doc(i: int, seed: int) -> dict:
    block, r = divmod(i, 100)
    base = seed * 1_000_000_007
    if r in (0, 1):
        rng = np.random.default_rng(base + block * 4)
        text = _text(rng)
        if r == 1:
            text += " altered tail"
    elif r == 2:
        rng = np.random.default_rng(base + 1)
        text = _text(rng) + f" tail{i}"
    else:
        rng = np.random.default_rng(base + i * 4 + 3)
        text = _text(rng)
    return {"doc_id": f"d{i:010d}", "text": text}


def generate_doc_fixture(
    spark: SparkSession, out_path: str, n_rows: int, seed: int = 42
) -> DataFrame:
    """Write a deterministic n_rows document fixture as parquet (idempotent)."""
    if not os.path.exists(os.path.join(out_path, "_SUCCESS")):
        base = spark.range(n_rows).repartition(64)

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield pd.DataFrame([_make_doc(int(i), seed) for i in pdf["id"]])

        (
            base.mapInPandas(gen, "doc_id string, text string")
            .write.mode("overwrite")
            .parquet(out_path)
        )
    return spark.read.parquet(out_path)
