"""Vectorized pandas/Arrow UDFs — the ONLY Python that touches row data.

Per input_hint, no per-row Python UDFs anywhere: every function here is a
`pandas_udf` receiving Arrow column batches. Each one wraps the shared numpy
implementations in `dupion_spark.functions.codec` so the Spark pipeline and
the single-process oracle compute bit-identical values.

Reference lineage: dupion's single expensive scalar is streaming blake3 over
file bytes (dupion/src/driver/platterwalker.rs:268-344). The graft's expensive
scalars are decode+SHA-256-of-pixels and pair verification; everything
cheap (byte length, shape keys, band splitting) stays JVM-side in
`pyspark.sql.functions`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dupion_spark.config import DedupConfig
from dupion_spark.functions import codec


def make_pixel_sha256_udf():
    """bytes -> codec.pixel_sha256 of the decoded pixels (32-byte binary)."""

    @F.pandas_udf(T.BinaryType())
    def pixel_sha256(data: pd.Series) -> pd.Series:
        out = []
        for blob in data:
            pixels = codec.try_decode_image(bytes(blob))
            # non-image payload (container/corrupt): F4
            out.append(None if pixels is None else codec.pixel_sha256(pixels))
        return pd.Series(out)

    return pixel_sha256


# CPU bound per comparison, not a memory bound: the suffix automaton below is
# O(n+m) time and memory, so the cap only limits worst-case per-pair CPU
# (an earlier sorted-suffixes version was O(n^2) MEMORY and capped at 4096).
LCS_MAX_CHARS = 65536


def _lcs_length(a: str, b: str) -> int:
    """Longest common substring length via a suffix automaton of `a` walked
    with `b` — the suffix-structure method (north_rule: "suffix-array
    substring"), O(len(a)) states and O(len(a)+len(b)) total work.

    Exact (not approximate): for inputs within LCS_MAX_CHARS the value equals
    the brute-force longest common substring, property-tested against the
    O(n*m) DP in tests/test_signatures.py."""
    if not a or not b:
        return 0
    a, b = a[:LCS_MAX_CHARS], b[:LCS_MAX_CHARS]
    if len(b) < len(a):  # build the automaton on the shorter string
        a, b = b, a
    # suffix automaton of `a` (Blumer et al.; the standard online build)
    sa_len = [0]
    sa_link = [-1]
    sa_next: list[dict[str, int]] = [{}]
    last = 0
    for ch in a:
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        sa_next.append({})
        p = last
        while p != -1 and ch not in sa_next[p]:
            sa_next[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = sa_next[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                sa_next.append(dict(sa_next[q]))
                while p != -1 and sa_next[p].get(ch) == q:
                    sa_next[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur
    # walk `b` through the automaton, tracking the longest current match
    v = best = cur_len = 0
    for ch in b:
        while v and ch not in sa_next[v]:
            v = sa_link[v]
            cur_len = sa_len[v]
        if ch in sa_next[v]:
            v = sa_next[v][ch]
            cur_len += 1
            if cur_len > best:
                best = cur_len
        else:
            v = cur_len = 0
    return best


def make_verify_udf(cfg: DedupConfig):
    """(bytes_l, bytes_r, caption_l, caption_r) -> struct(psnr, lcs_len, passed).

    The edge verdict is pixel-authoritative: passed iff decoded pixels are
    allclose (exact match => +inf PSNR, else PSNR >= psnr_threshold_db — the
    lossy-format gate). Caption LCS is computed with the suffix-array method
    and can be additionally required via cfg.require_caption_lcs; caption-only
    similarity never passes alone (kills caption decoys)."""

    schema = T.StructType(
        [
            T.StructField("psnr", T.DoubleType()),
            T.StructField("lcs_len", T.IntegerType()),
            T.StructField("passed", T.BooleanType()),
        ]
    )

    @F.pandas_udf(schema)
    def verify(
        bytes_l: pd.Series, bytes_r: pd.Series, cap_l: pd.Series, cap_r: pd.Series
    ) -> pd.DataFrame:
        # per-batch decode memo: star links repeat one hub across thousands
        # of pairs, and without the memo the hub re-decodes once PER PAIR
        # (a 3000-member star = 3000 decodes of the same bytes). Keyed by
        # the payload bytes; budgeted by accumulated DECODED bytes, not entry
        # count — 512 distinct 4K images would be ~12 GB of uint8 arrays in
        # one python worker, while a byte budget admits ~4000 thumbnail-sized
        # hubs or a handful of huge ones and degrades to re-decoding beyond
        # it (correct either way).
        memo: dict[bytes, object] = {}
        memo_bytes = 0
        MEMO_BUDGET = 256 << 20  # 256 MB of decoded pixels per Arrow batch

        def decode(blob: bytes):
            nonlocal memo_bytes
            if blob in memo:
                return memo[blob]
            hit = codec.try_decode_image(blob)
            size = hit.nbytes if hit is not None else 0
            if memo_bytes + size <= MEMO_BUDGET:
                memo[blob] = hit
                memo_bytes += size
            return hit

        psnrs, lcs_lens, passed = [], [], []
        for bl, br, cl, cr in zip(bytes_l, bytes_r, cap_l, cap_r):
            pl = decode(bytes(bl))
            pr = decode(bytes(br))
            psnr = (
                codec.psnr_db(pl, pr)
                if pl is not None and pr is not None
                else float("-inf")  # undecodable side: never similar
            )
            lcs = _lcs_length(cl or "", cr or "")
            ok = psnr >= cfg.psnr_threshold_db
            if cfg.require_caption_lcs:
                ok = ok and lcs >= cfg.lcs_min_len
            psnrs.append(psnr if np.isfinite(psnr) else (1e9 if psnr > 0 else -1e9))
            lcs_lens.append(lcs)
            passed.append(bool(ok))
        return pd.DataFrame({"psnr": psnrs, "lcs_len": lcs_lens, "passed": passed})

    return verify
