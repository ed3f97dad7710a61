"""SimHash text dedup + embedding-cosine near-dup clustering, verified
against ENGINE-INDEPENDENT brute force (numpy / pure python), not just the
DuckDB oracle — the oracle mirrors the banding, so a shared banding bug
would pass parity; brute force here would catch it.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow.parquet as pq

from dupion_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def test_simhash_banding_catches_all_within_radius(spark):
    """Pigeonhole guarantee: EVERY distinct-signature rep pair at hamming <=
    DOC_SIMHASH_MAX_HAMMING must be emitted by the banded pair query —
    verified against all-pairs brute force over the collected signatures."""
    sims = {
        r["doc_id"]: r["simhash"]
        for r in Q.q_dedup_simhash_docs(spark, SF_DIR).collect()
    }
    assert sims and any(v != 0 for v in sims.values())
    # reps: min doc_id per distinct signature (mirrors the query's collapse)
    rep_of: dict[int, int] = {}
    for d, s in sorted(sims.items()):
        rep_of.setdefault(s, d)
    reps = sorted((d, s) for s, d in rep_of.items())
    want = set()
    for i in range(len(reps)):
        for j in range(i + 1, len(reps)):
            h = bin(reps[i][1] ^ reps[j][1]).count("1")
            if h <= Q.DOC_SIMHASH_MAX_HAMMING:
                a, b = sorted((reps[i][0], reps[j][0]))
                want.add((a, b, h))
    got = {
        (r["id_l"], r["id_r"], r["hamming"])
        for r in Q.q_dedup_simhash_pairs(spark, SF_DIR).collect()
    }
    assert got == want, (sorted(want - got)[:5], sorted(got - want)[:5])


def test_simhash_bits_fit_60(spark):
    rows = Q.q_dedup_simhash_docs(spark, SF_DIR).collect()
    assert all(0 <= r["simhash"] < (1 << Q.DOC_SIMHASH_BITS) for r in rows)


# ---------------------------------------------------------------------------
# embedding near-dup clusters
# ---------------------------------------------------------------------------
def _brute_labels(sf_dir: str) -> dict[int, int]:
    """Union-find over (bucket hamming <= 2 AND cosine >= tau) pairs,
    computed straight from the parquet with numpy."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    M = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    planes = []
    for j in range(Q.EMB_N_PLANES):
        planes.append([
            1 if int(hashlib.md5(f"plane:{j}:{i}".encode()).hexdigest()[:15], 16) % 2
            else -1
            for i in range(Q.EMB_DIM)
        ])
    P = np.array(planes).T
    bucket = ((M @ P) >= 0).astype(np.int64) @ (1 << np.arange(Q.EMB_N_PLANES))
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            if (
                bin(int(bucket[i]) ^ int(bucket[j])).count("1") <= 2
                and round(S[i, j], 6) >= Q.EMB_DEDUP_TAU
            ):
                ra, rb = find(ids[i]), find(ids[j])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def test_dedup_embedding_matches_bruteforce_cc(spark):
    rows = Q.q_dedup_embedding(spark, SF_DIR).collect()
    got = {r["vec_id"]: r["cluster_id"] for r in rows}
    want = _brute_labels(SF_DIR)
    assert got == want
    # cluster_size is consistent with the labels
    from collections import Counter

    sizes = Counter(got.values())
    assert all(r["cluster_size"] == sizes[r["cluster_id"]] for r in rows)


def test_dedup_embedding_nonvacuous_at_sf001(spark):
    """The fixture + tau must actually produce multi-member clusters —
    otherwise the query silently degrades to the identity labeling."""
    rows = Q.q_dedup_embedding(spark, "/root/testdata/sf0.01").collect()
    multi = [r for r in rows if r["cluster_size"] > 1]
    assert len(rows) == 500
    assert multi, "no multi-member clusters: tau is vacuous for this fixture"


# ---------------------------------------------------------------------------
# end-to-end doc clustering (LSH -> jaccard verify -> CC)
# ---------------------------------------------------------------------------
def test_dedup_clusters_docs_verified_edges_only(spark):
    """Every multi-member cluster must be spanned by jaccard >= tau edges
    (no unverified LSH candidate leaks into the clustering), and every
    verified edge's endpoints must land in the same cluster."""
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in Q.q_dedup_clusters_docs(spark, SF_DIR).collect()
    }
    edges = [
        (r["id_l"], r["id_r"])
        for r in Q.q_ngram_jaccard(spark, SF_DIR).collect()
        if r["jaccard"] >= Q.DOC_CLUSTER_TAU
    ]
    assert edges, "tau is vacuous for this fixture"
    for a, b in edges:
        assert labels[a] == labels[b]
    # union-find over the verified edges reproduces the cluster partition
    parent = {d: d for d in labels}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in labels}
    assert labels == want


# ---------------------------------------------------------------------------
# doc-path scale knob: adaptive banding
# ---------------------------------------------------------------------------
def _hot_crowd_docs(spark):
    """30 identical boilerplate docs (every band bucket hot at cap 16), one
    genuine near pair, 20 uniques."""
    rows = []
    boiler = "the quick brown fox jumps over the lazy dog " * 4
    for i in range(30):
        rows.append((f"b{i:03d}", boiler))
    near = "glaciers carve fjords beneath the aurora while kestrels wheel over the lagoon"
    rows.append(("n_a", near))
    rows.append(("n_b", near + "!"))
    for i in range(20):
        rows.append((f"u{i:03d}", f"unique document number {i} about {'x' * (i + 3)} and meadows"))
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_doc_band_plan_thresholds():
    assert Q._doc_band_plan(None) == (4, 4)
    assert Q._doc_band_plan(100_000) == (4, 4)
    assert Q._doc_band_plan(Q.DOC_BANDS2_MIN_DOCS) == (2, 8)
    b, r = Q._doc_band_plan(10**12)
    assert b * r == 16


def test_doc_wide_plan_still_catches_identical_docs(spark):
    """At the 2x8 plan (mega-corpus hint) identical signatures still share
    every band — the wide plan narrows the Jaccard threshold, not exact
    recall."""
    docs = _hot_crowd_docs(spark)
    sig = Q._minhash_sig(docs).localCheckpoint(eager=False)
    wide = {
        (r["id_l"], r["id_r"])
        for r in Q._doc_pairs(sig, n_docs=Q.DOC_BANDS2_MIN_DOCS).collect()
    }
    assert ("n_a", "n_b") in wide or ("b000", "b001") in wide
    # identical boilerplate docs stay connected through the hub stars
    assert any(p[0] == "b000" for p in wide)
