"""Attribute pairs-stage cost by band source at scale.

Round-5 diagnostic for the 1.2M leg's pairs-wall growth (483.6 s at 8 cores
vs ~106 s at 600k — 4.6x for 2x input): per band source (caption minhash /
phash multiprobe / simhash exact), report bucket-occupancy histograms and the
implied inline all-pairs comparison volume, plus the second-level sub-band
population. The all-pairs comparison count over under-cap buckets is the
codegen work the pairs stage actually executes; whichever source's count
grows superlinearly with the corpus is the term to make corpus-adaptive.

Usage: python BENCH/diag_band_sources.py <fixture_dir> [--force-2band]
Prints one JSON line.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dupion_spark.config import DedupConfig
from dupion_spark.operators import exact, lsh
from dupion_spark.operators import features as features_op
from dupion_spark.session import get_spark


def main() -> None:
    fixture = sys.argv[1]
    kw = {}
    if "--force-2band" in sys.argv:
        kw["bands2_min_reps"] = 1_000_000
    cfg = DedupConfig(**kw)
    spark = get_spark("diag_bands", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                      shuffle_partitions=128)
    t0 = time.time()
    feats = features_op.extract_features_from_files(spark, fixture, cfg)
    feats = feats.localCheckpoint(eager=True)
    n = feats.count()
    hashes = features_op.hashes_from_features(feats)
    reps = exact.representatives(hashes).localCheckpoint(eager=True)
    sigs = features_op.signatures_from_features(feats, reps)
    sig2 = (sigs.filter(F.col("phash").isNotNull())
            .select("w", "h", "minhash", "simhash", "phash")
            .localCheckpoint(eager=True))
    n_reps = sig2.count()
    phash_bands = cfg.pixel_band_plan(n)
    out = {"n_images": n, "n_reps": n_reps, "phash_bands": phash_bands,
           "feature_sec": round(time.time() - t0, 1)}

    families = lsh.band_keys(cfg, phash_bands)
    sources = {
        "caption": (families["caption"], cfg.minhash_max_bucket),
        f"phash_{phash_bands}band": (families["phash"], cfg.max_band_bucket),
        "simhash": (families["simhash"], cfg.max_band_bucket),
    }
    if phash_bands != 3:
        # the other plan step, same features pass — attribution between plans
        sources["phash_3band"] = (lsh.band_keys(cfg, 3)["phash"], cfg.max_band_bucket)
    pixel_overcap = None
    for src, (keys, cap) in sources.items():
        t1 = time.time()
        counts = (sig2.selectExpr(f"explode(array({', '.join(keys)})) AS k")
                  .groupBy("k").agg(F.count(F.lit(1)).alias("n"))
                  .localCheckpoint(eager=True))
        row = counts.agg(
            F.count(F.lit(1)).alias("buckets"),
            F.max("n").alias("max_occ"),
            F.sum(F.when(F.col("n") <= cap,
                         F.col("n") * (F.col("n") - 1) / 2)
                  .otherwise(0)).alias("allpairs_undercap"),
            F.sum(F.when(F.col("n") > cap, F.col("n"))
                  .otherwise(0)).alias("overcap_members"),
            F.count(F.when(F.col("n") > cap, 1)).alias("overcap_buckets"),
        ).collect()[0]
        hist = {str(int(r["l2"])): r["count"] for r in
                counts.select(F.floor(F.log2("n")).alias("l2"))
                .groupBy("l2").count().collect()}
        out[src] = {
            "band_rows": int(counts.agg(F.sum("n")).collect()[0][0]),
            "buckets": row["buckets"], "max_occupancy": row["max_occ"],
            "allpairs_comparisons_undercap": int(row["allpairs_undercap"] or 0),
            "overcap_members": int(row["overcap_members"] or 0),
            "overcap_buckets": row["overcap_buckets"],
            "log2_occupancy_hist": dict(sorted(hist.items(), key=lambda x: int(x[0]))),
            "sec": round(time.time() - t1, 1),
        }

    # second level: over-cap PIXEL members (phash + simhash keys combined,
    # as candidate_pairs routes them) -> sub-band population
    t1 = time.time()
    pix_keys = sources[f"phash_{phash_bands}band"][0] + sources["simhash"][0]
    pix = sig2.selectExpr("phash", "simhash", "monotonically_increasing_id() AS rid",
                          f"explode(array({', '.join(pix_keys)})) AS k")
    hotk = (pix.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > cfg.max_band_bucket).select("k"))
    members = (pix.join(hotk, "k").select("rid", "phash", "simhash")
               .distinct().localCheckpoint(eager=True))
    n_members = members.count()
    subc = (members.selectExpr(f"explode(array({', '.join(lsh.SUB_KEYS)})) AS k")
            .groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    srow = subc.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.max("n").alias("max_occ"),
        F.sum(F.when(F.col("n") <= cfg.sub_allpairs_max,
                     F.col("n") * (F.col("n") - 1) / 2).otherwise(0)
              ).alias("allpairs_le_max"),
        F.sum(F.when(F.col("n") > cfg.sub_allpairs_max, F.col("n"))
              .otherwise(0)).alias("star_members"),
    ).collect()[0]
    out["sub_band"] = {
        "overcap_pixel_members": n_members,
        "sub_buckets": srow["buckets"], "max_occupancy": srow["max_occ"],
        "allpairs_comparisons": int(srow["allpairs_le_max"] or 0),
        "star_fallback_member_rows": int(srow["star_members"] or 0),
        "sec": round(time.time() - t1, 1),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
