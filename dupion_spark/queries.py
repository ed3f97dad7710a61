"""Driver-contract queries: named (spark, sf_dir) -> DataFrame callables with
matching DuckDB oracle SQL.

Every operator from SURVEY.md §2 is exposed here over the driver's TPC-H-ish
parquet tables (region nation customer supplier part orders lineitem events
documents embeddings), each with an ANSI/DuckDB oracle computing the same
result. Cross-engine determinism rules used throughout:

- shared 60-bit string hash: Spark `conv(substr(md5(x),1,15),16,10)::long` ==
  DuckDB `CAST('0x'||substr(md5(x),1,15) AS BIGINT)` (`H60` below);
- every aggregate/computed column aliased identically on both sides;
- floats rounded explicitly on both sides before output;
- all mixing arithmetic mod 2^31-1 so BIGINT math never overflows (ANSI-safe).

Image-pipeline queries (non-SQL-expressible: pandas-UDF decode + iterative CC)
are registered without oracle SQL — the driver records rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dupion_spark.operators import lsh

# ---------------------------------------------------------------------------
# shared constants (must be literal-identical in Spark exprs and oracle SQL)
# ---------------------------------------------------------------------------
M31 = 2_147_483_647
# doc-dedup MinHash: k=16 hash functions, 4 bands x 4 rows, constants derived
# from DedupConfig.minhash_params()-style seeding but kept small + literal so
# the oracle SQL stays readable and byte-identical in both engines.
DOC_MINHASH = [
    (1103515245, 12345),
    (1588635695, 879190747),
    (1117695901, 913687919),
    (1876998201, 439044377),
    (1457850878, 225169473),
    (1203248318, 792148597),
    (854128733, 128346713),
    (1391051223, 573825997),
    (705387353, 341613563),
    (1217823073, 905220393),
    (1760202487, 437993879),
    (1092548147, 779160363),
    (1562101337, 270893951),
    (948609305, 587432117),
    (1329850193, 104730687),
    (1727138099, 694398241),
]
DOC_SHINGLE_K = 8
DOC_BANDS = 4
DOC_ROWS = 4

STOPWORDS_EN = ["the", "and", "of", "to", "in", "is", "for", "with"]


def _tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


def _fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Input-skew guard (optimization guide §2.5): each bench table is ONE
    parquet file with very few row groups, so the scan — and with it all the
    per-row hash/dot-product work that runs map-side before the first
    exchange — lands in one or two tasks regardless of core count (row-group
    granularity caps effective scan parallelism; split-size knobs cannot
    split one row group). When the planned scan has fewer partitions than
    the session's parallelism, redistribute rows by the table's unique key
    first: the exchange moves only the raw rows (a few MB) while the per-row
    compute it parallelizes is orders of magnitude more work, and downstream
    groupBy(key) aggregations reuse the hash-partitioning (no second
    exchange). On a production corpus laid out in many files/row groups the
    scan already yields enough splits and this is a no-op. Only applied
    where results are exact under re-partitioning: integer/struct
    min/sum/count aggregates and purely per-row expressions — never
    cross-row float accumulation.

    When the key tuple IS the downstream groupBy key, the repartition also
    replaces the partial+final aggregation with a single complete aggregate
    (the exchange carries raw skinny rows instead of partially-combined
    ones — the right trade when keys are near-unique and the partial agg
    barely collapses, and a no-op where the scan is already parallel)."""
    keys = keys or ("doc_id",)
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *keys)
    return df


def _h60(col):
    """Spark-side shared 60-bit md5 hash (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


H60_SQL = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


# ===========================================================================
# A1/A2/F2/A5 — size & hash grouping, candidate pruning (dupion's core aggs)
# ===========================================================================
def q_a1_size_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 group-by-size (state/mod.rs:17-50): documents bucketed by n_chars."""
    (docs,) = _tables(spark, sf_dir, "documents")
    return (
        docs.groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc"))
        .filter(F.col("n_docs") > 1)
    )


SQL_A1 = """
SELECT n_chars, count(*) AS n_docs, min(doc_id) AS min_doc
FROM documents GROUP BY n_chars HAVING count(*) > 1
"""


def q_a2_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 group-by-hash (state/mod.rs:51-90): exact-duplicate text groups."""
    (docs,) = _tables(spark, sf_dir, "documents")
    return (
        docs.withColumn("text_hash", F.md5("text"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("min_doc"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SQL_A2 = """
SELECT md5(text) AS text_hash, count(*) AS n_members,
       min(doc_id) AS min_doc, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY md5(text)
"""


def q_f2_candidate_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 hash-candidate predicate (state/mod.rs:95-111): keep only docs whose
    size bucket has >1 member — the rows worth hashing. Semi-join prune."""
    (docs,) = _tables(spark, sf_dir, "documents")
    sizes = docs.groupBy("n_chars").count().filter("count > 1").select("n_chars")
    return docs.join(sizes, "n_chars", "left_semi").select("doc_id", "n_chars")


SQL_F2 = """
SELECT doc_id, n_chars FROM documents
WHERE n_chars IN (SELECT n_chars FROM documents GROUP BY n_chars HAVING count(*) > 1)
"""


def q_f1_size_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 size-range filter + F3 zero-size skip (state/mod.rs:106,
    dedup/mod.rs:27) with the trivial projection operators folded in:
    C2 base64 fingerprint (vfs/deser.rs:279-319), C3 size formatting
    (output/groups.rs:40), F7 path-display prefix strip (opts/mod.rs:44-50)."""
    (docs,) = _tables(spark, sf_dir, "documents")
    return (
        docs.filter((F.col("n_chars") > 0) & F.col("n_chars").between(100, 900))
        .select(
            "doc_id",
            F.base64(F.substring("text", 1, 9).cast("binary")).alias("b64_prefix"),
            F.concat(F.col("n_chars").cast("string"), F.lit(" chars")).alias("size_disp"),
            F.regexp_replace("source", "^src_", "").alias("display_source"),
        )
    )


SQL_F1_SIZE_RANGE = """
SELECT doc_id,
       to_base64(CAST(substr(text, 1, 9) AS BLOB)) AS b64_prefix,
       CAST(n_chars AS VARCHAR) || ' chars' AS size_disp,
       regexp_replace(source, '^src_', '') AS display_source
FROM documents
WHERE n_chars > 0 AND n_chars BETWEEN 100 AND 900
"""


def q_a5_occurrence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 membership counts (state/mod.rs:91-94,112-118) as count windows."""
    (docs,) = _tables(spark, sf_dir, "documents")
    win = Window.partitionBy(F.md5("text"))
    return docs.select(
        "doc_id",
        F.count(F.lit(1)).over(win).alias("n_same_hash"),
        (F.count(F.lit(1)).over(win) > 1).alias("more_than_one"),
    )


SQL_A5 = """
SELECT doc_id,
       count(*) OVER (PARTITION BY md5(text)) AS n_same_hash,
       count(*) OVER (PARTITION BY md5(text)) > 1 AS more_than_one
FROM documents
"""


# ===========================================================================
# A4 — hierarchical rollup hash (region <- nation <- customer)
# ===========================================================================
def q_a4_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 recursive dir-hash rollup (process/mod.rs:35-108): bottom-up
    two-level rollup — nation_hash = md5 over sorted customer names,
    region_hash = md5 over sorted (nation_name:nation_hash) pairs."""
    region, nation, customer = _tables(spark, sf_dir, "region", "nation", "customer")
    nation_hash = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(F.md5(F.array_join(F.sort_array(F.collect_list("c_name")), "|")).alias("nation_hash"))
    )
    pair = F.concat_ws(":", F.col("n_name"), F.col("nation_hash"))
    return (
        nation_hash.groupBy("n_regionkey")
        .agg(
            F.md5(F.array_join(F.sort_array(F.collect_list(pair)), "|")).alias("region_hash"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .join(region, F.col("n_regionkey") == region.r_regionkey)
        .select(F.col("r_name").alias("region_name"), "region_hash", "n_nations")
    )


SQL_A4 = """
WITH nh AS (
  SELECT n.n_regionkey, n.n_name,
         md5(string_agg(c.c_name, '|' ORDER BY c.c_name)) AS nation_hash
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, n.n_name
)
SELECT r.r_name AS region_name,
       md5(string_agg(nh.n_name || ':' || nh.nation_hash, '|'
           ORDER BY nh.n_name || ':' || nh.nation_hash)) AS region_hash,
       count(*) AS n_nations
FROM nh JOIN region r ON nh.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


# ===========================================================================
# A6 / O6 / O2 — run-length counts, senpai election, export ordering
# ===========================================================================
def q_a6_runlength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 phys-occurrence run-length (dedup/mod.rs:124-149): occurrences of
    identical (partkey, suppkey) within lineitem.

    r6: project the two key columns early and _fan_out on the group key —
    the 6-row-group lineitem file caps the scan (and the partial hash-agg
    over 6M near-unique keys, which collapses only ~4x) at 6 tasks; the
    repartition runs the single complete aggregate on every core instead
    (1.15 -> 0.83 s at sf1.0; counts are exact under re-partitioning)."""
    (lineitem,) = _tables(spark, sf_dir, "lineitem")
    return (
        _fan_out(
            lineitem.select("l_partkey", "l_suppkey"), "l_partkey", "l_suppkey"
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .filter(F.col("occurrences") > 1)
    )


SQL_A6 = """
SELECT l_partkey, l_suppkey, count(*) AS occurrences
FROM lineitem GROUP BY l_partkey, l_suppkey HAVING count(*) > 1
"""


def q_o6_senpai_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 senpai election (dedup/mod.rs:60-79): per customer, elect the argmin
    order by (o_totalprice ASC, o_orderdate ASC, o_orderkey ASC) — the same
    multi-key argmin-with-tiebreaks window as dupion's representative pick.

    r6 (guide §2.3, aggregate before you shuffle): the row_number window
    shuffled and SORTED the full order table per customer partition just to
    keep row 1; min over the lexicographic (price, date, orderkey) struct is
    the identical argmin (orderkey is unique — no ties) but partial
    aggregation collapses each map task to one row per customer before the
    exchange, so the shuffle carries customers, not orders, and the sort
    disappears. Struct comparison is exact field-wise ordering — no float
    arithmetic, so the result is partition-order independent."""
    (orders,) = _tables(spark, sf_dir, "orders")
    best = F.min(F.struct("o_totalprice", "o_orderdate", "o_orderkey")).alias("b")
    return (
        orders.groupBy("o_custkey")
        .agg(best)
        .select(
            "o_custkey",
            F.col("b.o_orderkey").alias("senpai_order"),
            F.round("b.o_totalprice", 2).alias("senpai_price"),
        )
    )


SQL_O6 = """
SELECT o_custkey, o_orderkey AS senpai_order, round(o_totalprice, 2) AS senpai_price
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderdate ASC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_o2_export_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 export ordering (process/mod.rs:8-33): duplicate groups sorted by
    (size DESC, first-member ASC); emitted with their rank so ordering is
    part of the compared values."""
    (orders,) = _tables(spark, sf_dir, "orders")
    groups = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("group_size"),
        F.min("o_orderkey").alias("first_member"),
        F.count(F.lit(1)).alias("n_members"),
    ).filter(F.col("n_members") > 1)
    # global export rank WITHOUT a single-partition Window.orderBy — exact
    # same ranks via range-partition + offsets (operators/ranking.with_rank)
    from dupion_spark.operators.ranking import with_rank

    return with_rank(
        groups,
        [F.col("group_size").desc(), F.col("first_member").asc()],
        "export_rank",
    ).select(
        "o_custkey", "group_size", "first_member", "n_members", "export_rank"
    )


SQL_O2 = """
SELECT o_custkey, group_size, first_member, n_members,
       row_number() OVER (ORDER BY group_size DESC, first_member ASC) AS export_rank
FROM (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS group_size,
         min(o_orderkey) AS first_member, count(*) AS n_members
  FROM orders GROUP BY o_custkey HAVING count(*) > 1
)
"""


# ===========================================================================
# J2 / J3 / P1 — treediff join, shadow semi-join, shadow-rule group filter
# ===========================================================================
def q_j2_treediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 treediff (output/treediff.rs:96-131): full-outer path-translation
    join of two 'roots' (part table halves keyed by partkey mod 1000) with
    content-hash compare -> 2 equal / 1 one-side / 0 differ."""
    (part,) = _tables(spark, sf_dir, "part")
    a = part.filter(F.col("p_partkey") <= 1000).select(
        (F.col("p_partkey") % 1000).alias("rel_key"), F.md5("p_name").alias("hash_a")
    )
    b = part.filter(F.col("p_partkey") > 1000).select(
        (F.col("p_partkey") % 1000).alias("rel_key"), F.md5("p_name").alias("hash_b")
    )
    return a.join(b, "rel_key", "full_outer").select(
        "rel_key",
        F.when(F.col("hash_a") == F.col("hash_b"), F.lit(2))
        .when(F.col("hash_a").isNull() | F.col("hash_b").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("status"),
    )


SQL_J2 = """
WITH a AS (SELECT p_partkey % 1000 AS rel_key, md5(p_name) AS hash_a
           FROM part WHERE p_partkey <= 1000),
     b AS (SELECT p_partkey % 1000 AS rel_key, md5(p_name) AS hash_b
           FROM part WHERE p_partkey > 1000)
SELECT coalesce(a.rel_key, b.rel_key) AS rel_key,
       CASE WHEN hash_a = hash_b THEN 2
            WHEN hash_a IS NULL OR hash_b IS NULL THEN 1
            ELSE 0 END AS status
FROM a FULL OUTER JOIN b ON a.rel_key = b.rel_key
"""


def q_j3_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 shadow propagation (process/mod.rs:110-136): a doc is shadowed iff
    its container (source) holds at least one duplicated text — semi-join of
    members against duplicated-container set. Duplication keyed on the
    colliding 16-char-prefix hash (see q_dedup_exact_docs) so the shadowed
    flag is non-trivially true on the fixture."""
    (docs,) = _tables(spark, sf_dir, "documents")
    key = F.md5(F.substring("text", 1, 16))
    dup_texts = docs.groupBy(key.alias("h")).count().filter("count > 1")
    dup_sources = (
        docs.withColumn("h", key)
        .join(dup_texts.select("h"), "h", "left_semi")
        .select("source")
        .distinct()
    )
    flagged = docs.join(dup_sources, "source", "left_semi").select(
        "doc_id", F.lit(True).alias("shadowed")
    )
    return docs.select("doc_id").join(flagged, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("shadowed"), F.lit(False)).alias("shadowed")
    )


SQL_J3 = """
SELECT d.doc_id,
       d.source IN (
         SELECT DISTINCT source FROM documents
         WHERE md5(substr(text, 1, 16)) IN (
             SELECT md5(substr(text, 1, 16)) FROM documents
             GROUP BY md5(substr(text, 1, 16)) HAVING count(*) > 1)
       ) AS shadowed
FROM documents d
"""


def _p1_rule_query(rule: int):
    """P1 shadow rules 0-3 (output/groups.rs:4-56), driver-checked against
    the REAL operator (operators/groups.groups_with_shadow_rule). Groups are
    keyed on n_chars — which genuinely collides in the documents table (137
    multi-member groups at sf0.01) — and the shadow flag is a deterministic
    content-derived predicate (doc_id % 3 == 0) both engines compute
    identically, so every rule branch is exercised on non-empty input."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dupion_spark.operators.groups import groups_with_shadow_rule

        (docs,) = _tables(spark, sf_dir, "documents")
        clusters = docs.select(
            F.col("doc_id").cast("string").alias("image_id"),
            F.col("n_chars").cast("long").alias("cluster_root"),
        )
        shadows = docs.select(
            F.col("doc_id").cast("string").alias("image_id"),
            (F.col("doc_id") % 3 == 0).alias("shadowed"),
        )
        out = groups_with_shadow_rule(clusters, shadows, rule=rule)
        return out.select(
            F.col("cluster_root").alias("n_chars"),
            "n_members",
            "n_shadowed",
            "n_visible",
            F.array_join("members", ",").alias("members"),
        )

    return q


def _sql_p1_rule(hide_expr: str) -> str:
    return f"""
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS member_id, n_chars,
         (doc_id % 3 = 0) AS shadowed
  FROM documents
), g AS (
  SELECT n_chars,
         count(*) AS n_members,
         CAST(sum(CASE WHEN shadowed THEN 1 ELSE 0 END) AS BIGINT) AS n_shadowed,
         count(*) - CAST(sum(CASE WHEN shadowed THEN 1 ELSE 0 END) AS BIGINT) AS n_visible,
         array_to_string(list_sort(list(member_id)), ',') AS all_members,
         array_to_string(list_sort(list(member_id) FILTER (WHERE NOT shadowed)), ',')
             AS visible_members
  FROM m GROUP BY n_chars HAVING count(*) > 1
)
SELECT n_chars, n_members, n_shadowed, n_visible,
       CASE WHEN {hide_expr} THEN visible_members ELSE all_members END AS members
FROM g WHERE NOT (({hide_expr}) AND n_visible <= 1)
"""


SQL_P1_RULES = {
    0: _sql_p1_rule("FALSE"),
    1: _sql_p1_rule("n_visible = 0"),
    2: _sql_p1_rule("n_visible <> 1"),
    3: _sql_p1_rule("TRUE"),
}


# ===========================================================================
# training-data ops: exact dedup, MinHash LSH, SimHash, n-gram Jaccard,
# language-ID, quality score, token count, fingerprint
# ===========================================================================
def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: per-doc cluster assignment = min doc_id of its content
    group. Keyed on md5 of the 16-char text prefix — a content-derived hash
    that actually COLLIDES on the fixture (25+ multi-member groups), so the
    multi-member window path is driver-exercised; a real corpus uses
    md5(text) (byte-identical key, same plan shape)."""
    (docs,) = _tables(spark, sf_dir, "documents")
    win = Window.partitionBy(F.md5(F.substring("text", 1, 16)))
    return docs.select("doc_id", F.min("doc_id").over(win).alias("cluster_id"))


SQL_DEDUP_EXACT = """
SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 16))) AS cluster_id
FROM documents
"""


def _doc_shingle_arr():
    """array<string> of distinct character 8-shingles of `text` (docs shorter
    than k yield [text]), JVM-side via sequence+transform."""
    return F.when(
        F.length("text") < DOC_SHINGLE_K, F.array(F.col("text"))
    ).otherwise(
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, length(text) - {DOC_SHINGLE_K - 1}),"
                f" i -> substr(text, i, {DOC_SHINGLE_K}))"
            )
        )
    )


def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) — one row per shingle POSITION, duplicates kept, so
    valid ONLY for duplicate-insensitive consumers (the min-aggregates of the
    MinHash signature and the fingerprint: min over the position multiset ==
    min over the distinct set). Runs entirely in whole-stage codegen —
    explode(sequence) + substr — replacing the interpreted per-element
    higher-order transform + array_distinct of _doc_shingle_arr, whose array
    build ALONE measured 19.6 s at sf1.0 (see OPTIMIZATION_r06.md).
    Degenerate docs (length < K, incl. empty) emit exactly one row equal to
    the whole text, matching _doc_shingle_arr's [text] branch; NULL text
    yields a NULL sequence and the row is dropped, matching the old
    explode(NULL array) behavior."""
    n = F.when(
        F.length("text") >= DOC_SHINGLE_K, F.length("text") - (DOC_SHINGLE_K - 1)
    ).otherwise(F.when(F.col("text").isNotNull(), F.lit(1)))
    return docs.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(1), n)).alias("i")
    ).select("doc_id", F.expr(f"substr(text, i, {DOC_SHINGLE_K})").alias("shingle"))


def _minhash_sig(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h15) MinHash signatures: explode shingle positions, one
    md5-based 60-bit hash per shingle row, 16 min-aggregates back to one row
    per doc.

    Deliberately NOT map-side: array-based variants were measured at sf0.1
    and all lose to the explode+groupBy form, because higher-order functions
    (transform/aggregate) evaluate INTERPRETED per element while the exploded
    md5 runs in whole-stage codegen. r6 pushed the same observation into the
    shingle source itself: _shingle_rows explodes positions via codegen
    sequence+substr instead of exploding an interpreted-transform-built
    distinct array (duplicate positions cannot change a min aggregate).
    The groupBy shuffle is NOT corpus-scale: partial aggregation collapses
    each doc's shingles (co-partitioned with the doc by the explode) to one
    16-column row per doc before the exchange, so the shuffle carries one
    skinny row per document."""
    shingles = _shingle_rows(docs).withColumn("base", _h60(F.col("shingle")) % M31)
    return shingles.groupBy("doc_id").agg(
        *[
            F.min((F.col("base") * a + b) % M31).alias(f"h{i}")
            for i, (a, b) in enumerate(DOC_MINHASH)
        ]
    )


def q_dedup_minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over text shingles (the caption-MinHash operator on
    the documents table, SQL-checkable): doc_id, h0..h15 signature columns."""
    (docs,) = _tables(spark, sf_dir, "documents")
    return _minhash_sig(_fan_out(docs))


def _sql_shingles() -> str:
    return f"""
  SELECT doc_id, unnest(list_distinct(CASE WHEN length(text) < {DOC_SHINGLE_K}
      THEN [text]
      ELSE [substr(text, i, {DOC_SHINGLE_K})
            for i in range(1, length(text) - {DOC_SHINGLE_K - 2})]
      END)) AS shingle
  FROM documents
"""


SQL_DEDUP_MINHASH = (
    "WITH shingles AS (" + _sql_shingles() + ")\n"
    "SELECT doc_id,\n"
    + ",\n".join(
        f"  min((({H60_SQL.format(x='shingle')} % {M31}) * {a} + {b}) % {M31}) AS h{i}"
        for i, (a, b) in enumerate(DOC_MINHASH)
    )
    + "\nFROM shingles GROUP BY doc_id"
)


# hot-band cap for the doc LSH buckets: buckets above this size emit a
# linear STAR (member -> bucket-min) instead of quadratic all-pairs —
# identical connectivity for clustering, bounded blow-up on boilerplate text
# (same design as the image path, operators/lsh.candidate_pairs). Mirrored
# literally in the oracle SQL so both engines compute identical pair sets.
DOC_MAX_BAND_BUCKET = 16

# --- doc-corpus scale knob (a mirror of the pixel path's DedupConfig) -------
# Corpus-adaptive banding: with fixed 4x4 banding, doc band-bucket occupancy
# grows linearly with the corpus and within-bucket comparisons quadratically
# — the text analog of the pixel path's fixed-entropy superlinearity. At
# mega-corpus scale the plan steps to 2 bands x 8 rows: per-band selectivity
# multiplies by the extra 4 signature slots, while the LSH similarity
# threshold rises (s* = (1/b)^(1/r): 0.71 -> 0.92 Jaccard) — only
# high-similarity near-dups remain catchable, the same guarantee-narrowing
# trade the pixel plan makes (hamming 11 -> 8 -> 5). Oracle-checked queries
# run far below the threshold and keep the default plan bit-for-bit.
DOC_BANDS2_MIN_DOCS = 20_000_000


def _doc_band_plan(n_docs: int | None) -> tuple[int, int]:
    """(bands, rows) for a doc corpus of n_docs: 4x4 by default, 2x8 at
    mega-corpus scale. bands * rows == 16 (the signature length) always."""
    if n_docs is None or n_docs < DOC_BANDS2_MIN_DOCS:
        return DOC_BANDS, DOC_ROWS
    return 2, 8


def _doc_bands(sig: DataFrame, n_docs: int | None) -> DataFrame:
    """(rep_id, key) band rows: one xxhash64 key per band of the adaptive
    plan, rep_id carrying the doc_id (the bucket-pair builder's id column)."""
    bands_n, rows_n = _doc_band_plan(n_docs)
    keys = lsh.probe_keys("docband", [
        ", ".join(f"h{b * rows_n + r}" for r in range(rows_n)) for b in range(bands_n)
    ])
    return sig.selectExpr("doc_id AS rep_id", f"explode(array({', '.join(keys)})) AS key")


def _doc_pairs(sig: DataFrame, n_docs: int | None = None) -> DataFrame:
    """Banding + capped candidate-pair generation over the signature table,
    through the image path's bucket kernel (operators/lsh.bucket_links):
    buckets up to DOC_MAX_BAND_BUCKET emit all their pairs, over-cap buckets
    star-link to their minimum doc_id, both from exact per-bucket counts
    after one shuffle of the band rows by key. Band keys are xxhash64 LONGS
    (one skinny column) instead of md5-of-concat strings — same bucket
    partition (any injective key works; collisions at 2^-64 only add
    candidates that exact verification re-checks), ~40% fewer shuffle bytes
    per band row. The DuckDB oracle keeps md5 keys: bucket contents, caps,
    and hubs — the semantics — are identical, so the pair sets match.

    n_docs: corpus-size hint driving the ADAPTIVE band plan (_doc_band_plan
    — fewer, more selective bands at mega-corpus scale)."""
    return (
        lsh.bucket_links(_doc_bands(sig, n_docs), "key", [
            lsh.Route(0, DOC_MAX_BAND_BUCKET, "minhash", "star_minhash"),
        ])
        .select("id_l", "id_r")
        .distinct()
    )


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding + candidate pairs on the doc signatures: xxhash64 band key
    per 4-slot signature slice; one bucket kernel per key shuffle with the
    hot-bucket star cap; distinct pairs.

    The signature table feeds _doc_pairs exactly once, so no
    materialization here. The corpus count (a cheap zero-column scan) feeds
    the adaptive band plan; at oracle scales it stays at the default plan
    the SQL mirrors."""
    (docs,) = _tables(spark, sf_dir, "documents")
    return _doc_pairs(_minhash_sig(_fan_out(docs)), n_docs=docs.count())


def _sql_band_key(band: int) -> str:
    cols = " || ',' || ".join(
        f"CAST(h{band * DOC_ROWS + r} AS VARCHAR)" for r in range(DOC_ROWS)
    )
    return f"md5({cols})"


def _sql_sig_ctes() -> str:
    """shingles + sig CTEs shared by the signature-derived oracle queries."""
    return (
        "WITH shingles AS (" + _sql_shingles() + "),\n"
        "sig AS (SELECT doc_id,\n"
        + ",\n".join(
            f"  min((({H60_SQL.format(x='shingle')} % {M31}) * {a} + {b}) % {M31}) AS h{i}"
            for i, (a, b) in enumerate(DOC_MINHASH)
        )
        + "\nFROM shingles GROUP BY doc_id)"
    )


def _sql_pairs_ctes() -> str:
    """bands + counts + pairs CTEs mirroring _doc_pairs (incl. the star cap)."""
    return (
        "bands AS (\n"
        + "\nUNION ALL\n".join(
            f"  SELECT doc_id, {band} AS band, {_sql_band_key(band)} AS key FROM sig"
            for band in range(DOC_BANDS)
        )
        + "),\n"
        "bcounts AS (SELECT band, key, count(*) AS n, min(doc_id) AS hub\n"
        "            FROM bands GROUP BY band, key),\n"
        "pairs AS (SELECT DISTINCT id_l, id_r FROM (\n"
        "  SELECT a.doc_id AS id_l, b.doc_id AS id_r\n"
        "  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key\n"
        "               JOIN bcounts c ON a.band = c.band AND a.key = c.key\n"
        f"  WHERE c.n <= {DOC_MAX_BAND_BUCKET} AND a.doc_id < b.doc_id\n"
        "  UNION ALL\n"
        "  SELECT c.hub AS id_l, a.doc_id AS id_r\n"
        "  FROM bands a JOIN bcounts c ON a.band = c.band AND a.key = c.key\n"
        f"  WHERE c.n > {DOC_MAX_BAND_BUCKET} AND a.doc_id <> c.hub\n"
        "))"
    )


SQL_DEDUP_MINHASH_PAIRS = (
    _sql_sig_ctes() + ",\n" + _sql_pairs_ctes() + "\n"
    "SELECT id_l, id_r FROM pairs"
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for LSH candidate pairs: |A∩B| / |A∪B| over the
    distinct shingle sets, rounded to 6 decimals.

    All per-shingle work after pair generation is CANDIDATE-PROPORTIONAL:
    the corpus shingle table is never materialized — only docs that appear
    in a candidate pair are semi-joined back to the scan. The intersection
    itself is MAP-SIDE `array_intersect` over the two distinct-shingle
    arrays (whole-stage codegen): each pair row picks up its two arrays via
    two skinny joins and never explodes. Two earlier layouts were measured
    and replaced: a corpus-scale exploded-shingle join (shuffled the whole
    corpus), then a candidate-proportional explode + (id, shingle) equality
    join + groupBy. At sf0.1 the wall is unchanged (~4.7 s warm — signature
    + pair generation dominate at ~3.8 s); the win is the shuffle SHAPE at
    corpus scale: the explode layout shuffled three per-shingle row tables,
    this one shuffles each member's array once per pair occurrence and
    per-shingle rows never shuffle at all.

    r6 parallelism fixes (guide §2.5): the members scan goes through
    _fan_out (same single-row-group serialization as the signature path),
    and the checkpointed pair table — whose upstream distinct() is
    AQE-coalesced to ONE partition at bench scale because candidate pairs
    are only a few hundred KB — is explicitly re-spread before the
    fat-array joins: the exchange moves 16-byte id pairs, and it keeps the
    CPU-heavy array_intersect stage (whose per-row cost AQE's bytes-based
    coalescing cannot see) on every core. Measured at sf1.0 (23,277 pairs):
    the intersect stage ran in 1 task at 5.7 s before, 1.0 s after."""
    (docs,) = _tables(spark, sf_dir, "documents")
    sig = _minhash_sig(_fan_out(docs))
    # checkpointed: three consumers (two member-id projections + the join)
    pairs = _doc_pairs(sig, n_docs=docs.count()).localCheckpoint(eager=False)
    member_ids = (
        pairs.select(F.col("id_l").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_r").alias("doc_id")))
        .distinct()
    )
    members = (
        _fan_out(docs).join(member_ids, "doc_id", "left_semi")
        .select("doc_id", _doc_shingle_arr().alias("sh_arr"))
        .localCheckpoint(eager=False)  # consumers: both pair-member joins
    )
    target = spark.sparkContext.defaultParallelism
    with_arrays = (
        pairs.repartition(target, "id_l", "id_r")
        .join(
            members.select(F.col("doc_id").alias("id_l"),
                           F.col("sh_arr").alias("arr_l")), "id_l")
        .join(
            members.select(F.col("doc_id").alias("id_r"),
                           F.col("sh_arr").alias("arr_r")), "id_r")
    )
    n_inter = F.size(F.array_intersect("arr_l", "arr_r"))
    # pairs with zero shared shingles (pure banding false positives) are
    # dropped: the oracle's inner join + GROUP BY never emits them, so the
    # Spark side must not either (row-set contract)
    return (
        with_arrays.withColumn("n_inter", n_inter)
        .filter(F.col("n_inter") > 0)
        .select(
            "id_l",
            "id_r",
            F.round(
                F.col("n_inter")
                / (F.size("arr_l") + F.size("arr_r") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


SQL_NGRAM_JACCARD = (
    _sql_sig_ctes() + ",\n" + _sql_pairs_ctes() + ",\n"
    "counts AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),\n"
    "shared AS (SELECT p.id_l, p.id_r, count(*) AS n_inter\n"
    "           FROM pairs p JOIN shingles sl ON sl.doc_id = p.id_l\n"
    "                        JOIN shingles sr ON sr.doc_id = p.id_r AND sr.shingle = sl.shingle\n"
    "           GROUP BY p.id_l, p.id_r)\n"
    "SELECT s.id_l, s.id_r,\n"
    "       round(CAST(s.n_inter AS DOUBLE) / (cl.n_sh + cr.n_sh - s.n_inter), 6) AS jaccard\n"
    "FROM shared s JOIN counts cl ON cl.doc_id = s.id_l JOIN counts cr ON cr.doc_id = s.id_r"
)


LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "und", "ist", "das", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "une"],
    "es": ["el", "los", "y", "una", "por", "que"],
}


def _tokens_col():
    return F.split(F.lower(F.trim(F.col("text"))), "\\s+")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token count, alpha ratio, stopword count,
    composite quality score — all JVM-side string/array ops (the
    training-data quality-filter stage)."""
    (docs,) = _tables(spark, sf_dir, "documents")
    tokens = _tokens_col()
    n_tokens = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(F.size(tokens))
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    alpha_ratio = F.round(alpha / F.greatest(F.length("text"), F.lit(1)), 6)
    n_stop = F.size(F.filter(tokens, lambda t: t.isin(*STOPWORDS_EN)))
    quality = F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        * (alpha / F.greatest(F.length("text"), F.lit(1))),
        6,
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        n_stop.alias("n_stopwords"),
        quality.alias("quality_score"),
    )


_SQL_STOPLIST = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
SQL_TEXT_STATS = f"""
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens,
  round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        / greatest(length(text), 1), 6) AS alpha_ratio,
  len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                  t -> t IN ({_SQL_STOPLIST}))) AS n_stopwords,
  round(least((CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END) / 100.0, 1.0)
        * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
           / greatest(length(text), 1)), 6) AS quality_score
FROM documents
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language stopword hit counts, argmax with a
    fixed precedence tiebreak (en > de > fr > es > unknown)."""
    (docs,) = _tables(spark, sf_dir, "documents")
    tokens = _tokens_col()
    scores = {
        lang: F.size(F.filter(tokens, lambda t: t.isin(*words)))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    guessed = (
        F.when(best == 0, F.lit("unknown"))
        .when(scores["en"] == best, F.lit("en"))
        .when(scores["de"] == best, F.lit("de"))
        .when(scores["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        guessed.alias("guessed_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_STOPWORDS],
    )


def _sql_lang_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return (
        f"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
        f" t -> t IN ({words})))"
    )


SQL_TEXT_LANGID = f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {_sql_lang_score('en')} AS score_en,
         {_sql_lang_score('de')} AS score_de,
         {_sql_lang_score('fr')} AS score_fr,
         {_sql_lang_score('es')} AS score_es
  FROM documents
)
SELECT doc_id, labeled_lang,
       CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'unknown'
            WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
            WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
            WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
            ELSE 'es' END AS guessed_lang,
       score_en, score_de, score_fr, score_es
FROM scored
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min 60-bit hash over its shingles (rolling-hash
    style content fingerprint; equal texts -> equal fingerprints).

    r6: explode+groupBy-min over codegen shingle rows. The previous map-side
    array_min(transform(...)) form had zero shuffle but evaluated the md5
    INTERPRETED per element inside a higher-order function, and — the
    single-file/single-row-group input being unsplittable — ran in ONE task:
    29.4 s at sf1.0. The explode form runs the md5 in whole-stage codegen
    after the _fan_out redistribution; the groupBy shuffle carries one row
    per doc after partial aggregation (and reuses _fan_out's doc_id
    partitioning, so no extra exchange)."""
    (docs,) = _tables(spark, sf_dir, "documents")
    return (
        _shingle_rows(_fan_out(docs))
        .groupBy("doc_id")
        .agg(F.min(_h60(F.col("shingle"))).alias("fingerprint"))
    )


SQL_TEXT_FINGERPRINT = (
    "WITH shingles AS (" + _sql_shingles() + ")\n"
    f"SELECT doc_id, min({H60_SQL.format(x='shingle')}) AS fingerprint\n"
    "FROM shingles GROUP BY doc_id"
)


def q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events table (streaming-shaped
    batch query; watermark-compatible in readStream form)."""
    (events,) = _tables(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
    )


SQL_EVENTS_WINDOW = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


def q_stream_dedup_batch_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalent of the streaming watermarked dedup (streaming/
    dedup_stream.windowed_first_events): first event per (user_id,
    event_type) in each 10-minute event-time tumbling window. The identical
    plan runs as a Structured Streaming aggregation with a watermark
    (tests/test_streaming.py asserts batch == streamed output), so this row
    hash-checks the streaming operator's semantics against DuckDB."""
    from dupion_spark.streaming.dedup_stream import windowed_first_events

    (events,) = _tables(spark, sf_dir, "events")
    # _fan_out on the GROUP-KEY PREFIX (user_id, event_type): min(struct) is
    # exact under re-partitioning, the 1M-row single-row-group scan otherwise
    # runs its map side in one task, and hash-partitioning on a prefix of the
    # aggregation key already clusters the groups — the aggregate runs
    # complete with no second exchange (1.32 s keyed by event_id, 0.97 s
    # keyed by the group prefix at sf1.0)
    return windowed_first_events(_fan_out(events, "user_id", "event_type"))


SQL_STREAM_DEDUP = """
SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start_s,
       user_id, event_type, event_id, ts
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY user_id, event_type, floor(epoch(ts) / 600)
      ORDER BY ts, event_id) AS rn
  FROM events)
WHERE rn = 1
"""


def q_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (the classic bench headline)."""
    (lineitem,) = _tables(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_m1_dedup_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/M4 dedup planning, simulate mode (dedup/mod.rs:14-112,
    dedup/btrfs.rs:137-159): per duplicate group, elect the keeper (min id),
    list the dups, report reclaimable bytes — the plan table, no mutation.
    Keyed on the colliding 16-char-prefix hash (see q_dedup_exact_docs) so
    the plan is non-empty on the fixture."""
    (docs,) = _tables(spark, sf_dir, "documents")
    hashed = docs.withColumn("text_hash", F.md5(F.substring("text", 1, 16)))
    win = Window.partitionBy("text_hash")
    return (
        hashed.withColumn("senpai", F.min("doc_id").over(win))
        .withColumn("n_members", F.count(F.lit(1)).over(win))
        .filter((F.col("n_members") > 1) & (F.col("doc_id") != F.col("senpai")))
        .groupBy("text_hash", "senpai")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.sum("n_chars").alias("bytes_reclaimable"),
            # list columns break the driver's pandas canonicalization
            # (unhashable) — emit the member list as a joined string
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("dup_ids"),
        )
    )


SQL_M1_DEDUP_PLAN = """
WITH h AS (
  SELECT doc_id, n_chars, md5(substr(text, 1, 16)) AS text_hash,
         min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 16))) AS senpai,
         count(*) OVER (PARTITION BY md5(substr(text, 1, 16))) AS n_members
  FROM documents
)
SELECT text_hash, senpai, count(*) AS n_dups,
       CAST(sum(n_chars) AS BIGINT) AS bytes_reclaimable,
       array_to_string(list_sort(list(doc_id)), ',') AS dup_ids
FROM h WHERE n_members > 1 AND doc_id != senpai
GROUP BY text_hash, senpai
"""


def q_o4_preview_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 dup-preview limit (output/tree.rs:103-105): each group shows only
    its first 4 members — slice of the sorted collected list."""
    (docs,) = _tables(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            # joined string, not an array — see m1_dedup_plan
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 4), ","
            ).alias("preview"),
        )
        .filter(F.col("n_members") > 1)
    )


SQL_O4_PREVIEW = """
SELECT source, count(*) AS n_members,
       array_to_string(list_sort(list(doc_id))[1:4], ',') AS preview
FROM documents GROUP BY source HAVING count(*) > 1
"""


# ===========================================================================
# O3/P2 — tree-child sort + tree export (output/tree.rs:26-151)
# ===========================================================================
def _tree_children(docs: DataFrame) -> DataFrame:
    """Tree child nodes over the documents table: parent = source (the 'dir'),
    child = doc. Mirrors the reference's per-child tuple (tree.rs:53-68):
    dups = occurrence count of the child's content hash (clamped to [1,2] for
    the sort, tree.rs:68), size = n_chars, icon 'F' prio 2 (plain file), name
    = doc_id. Content hash = the colliding 16-char-prefix hash (see
    q_dedup_exact_docs)."""
    key = F.md5(F.substring("text", 1, 16))
    hashed = docs.select("doc_id", "source", "n_chars", key.alias("h"))
    counts = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("dups"))
    return (
        hashed.join(counts, "h")
        .select(
            "source",
            "doc_id",
            "n_chars",
            "h",
            F.least(F.greatest(F.col("dups"), F.lit(1)), F.lit(2)).alias("dups_clamped"),
            (F.col("dups") > 1).alias("is_dup"),
        )
    )


def q_o3_tree_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 tree-child sort (tree.rs:68): children ranked within their parent by
    (icon_prio ASC, clamped-dup-count DESC, size DESC) with the child name as
    the deterministic final tiebreak. All children here are files (prio 2), so
    the exercised keys are the dup-clamp and size legs."""
    (docs,) = _tables(spark, sf_dir, "documents")
    ch = _tree_children(docs)
    win = Window.partitionBy("source").orderBy(
        F.col("dups_clamped").desc(), F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return ch.withColumn("child_rank", F.row_number().over(win)).select(
        "source", "doc_id", "dups_clamped", "n_chars", "child_rank"
    )


SQL_O3_TREE_SORT = """
WITH counts AS (
  SELECT md5(substr(text, 1, 16)) AS h, count(*) AS dups
  FROM documents GROUP BY 1
), ch AS (
  SELECT d.source, d.doc_id, d.n_chars,
         least(greatest(c.dups, 1), 2) AS dups_clamped
  FROM documents d JOIN counts c ON md5(substr(d.text, 1, 16)) = c.h
)
SELECT source, doc_id, dups_clamped, n_chars,
       row_number() OVER (PARTITION BY source
         ORDER BY dups_clamped DESC, n_chars DESC, doc_id ASC) AS child_rank
FROM ch
"""


def q_p2_tree_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 JSON tree printer (tree.rs:26-151): per parent, the serialized
    ordered child list. Each child renders as the reference ident
    'DUPS|UNIQ <icon> <name> <size>' (tree.rs:76,85); DUPS children expand to
    the first 4 group members (tree.rs:103-105, the O4 preview). Emitted as a
    deterministic string per parent so both engines compare byte-identical
    serializations.

    r6: the per-hash stats (dup count AND the <=4-member O4 preview) come
    from ONE groupBy over the hashed rows instead of _tree_children's
    count-groupBy + a second preview-groupBy, halving the exchanges and
    joins on the hash key; the emitted values are identical (both aggregates
    see the same per-h row multiset)."""
    (docs,) = _tables(spark, sf_dir, "documents")
    key = F.md5(F.substring("text", 1, 16))
    hashed = docs.select("doc_id", "source", "n_chars", key.alias("h"))
    stats = hashed.groupBy("h").agg(
        F.count(F.lit(1)).alias("dups"),
        # <=4-member preview per duplicate group, sorted ids (O4)
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 4), ";"
        ).alias("preview"),
    )
    labeled = hashed.join(stats, "h").select(
        "source",
        "doc_id",
        "n_chars",
        F.least(F.greatest(F.col("dups"), F.lit(1)), F.lit(2)).alias("dups_clamped"),
        F.concat(
            F.when(F.col("dups") > 1, F.lit("DUPS")).otherwise(F.lit("UNIQ")),
            F.lit(" F "),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.col("n_chars").cast("string"),
            F.when(
                F.col("dups") > 1,
                F.concat(F.lit(" ["), F.col("preview"), F.lit("]")),
            ).otherwise(F.lit("")),
        ).alias("label"),
    )
    win = Window.partitionBy("source").orderBy(
        F.col("dups_clamped").desc(), F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = labeled.withColumn("rank", F.row_number().over(win))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_children"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("rank"), F.col("label")))
                    ),
                    lambda s: s["label"],
                ),
                ",",
            ).alias("tree"),
        )
    )


SQL_P2_TREE_EXPORT = """
WITH counts AS (
  SELECT md5(substr(text, 1, 16)) AS h, count(*) AS dups
  FROM documents GROUP BY 1
), ch AS (
  SELECT d.source, d.doc_id, d.n_chars, c.h,
         least(greatest(c.dups, 1), 2) AS dups_clamped,
         c.dups > 1 AS is_dup
  FROM documents d JOIN counts c ON md5(substr(d.text, 1, 16)) = c.h
), previews AS (
  SELECT h, array_to_string(list_sort(list(doc_id))[1:4], ';') AS preview
  FROM ch GROUP BY h
), labeled AS (
  SELECT ch.source, ch.doc_id, ch.n_chars, ch.dups_clamped,
         (CASE WHEN ch.is_dup THEN 'DUPS' ELSE 'UNIQ' END)
         || ' F ' || CAST(ch.doc_id AS VARCHAR) || ' ' || CAST(ch.n_chars AS VARCHAR)
         || (CASE WHEN ch.is_dup THEN ' [' || p.preview || ']' ELSE '' END) AS label
  FROM ch JOIN previews p ON ch.h = p.h
)
SELECT source, count(*) AS n_children,
       string_agg(label, ',' ORDER BY dups_clamped DESC, n_chars DESC, doc_id ASC) AS tree
FROM labeled GROUP BY source
"""


# ===========================================================================
# M3 — dedup action (apply the plan: keep senpai rows, drop dups)
# ===========================================================================
def q_m3_apply_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 dedup action (dedup/btrfs.rs:123-364 grafted per SURVEY §2.7: the
    physical ioctl becomes applying the canonical map — an anti-join DELETE of
    non-canonical rows). Emits the surviving table (senpai per duplicate
    group + all singletons) with the per-row disposition."""
    (docs,) = _tables(spark, sf_dir, "documents")
    hashed = docs.withColumn("text_hash", F.md5(F.substring("text", 1, 16)))
    win = Window.partitionBy("text_hash")
    return (
        hashed.withColumn("senpai", F.min("doc_id").over(win))
        .withColumn("n_members", F.count(F.lit(1)).over(win))
        .filter(F.col("doc_id") == F.col("senpai"))
        .select(
            "doc_id",
            "n_chars",
            (F.col("n_members") - 1).alias("n_dropped"),
        )
    )


SQL_M3_APPLY = """
WITH h AS (
  SELECT doc_id, n_chars,
         min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 16))) AS senpai,
         count(*) OVER (PARTITION BY md5(substr(text, 1, 16))) AS n_members
  FROM documents
)
SELECT doc_id, n_chars, n_members - 1 AS n_dropped
FROM h WHERE doc_id = senpai
"""


# ===========================================================================
# similarity search over embeddings (ANN: brute-force baseline + LSH buckets)
# ===========================================================================
EMB_DIM = 64
EMB_N_QUERIES = 8
EMB_TOPK = 3
EMB_N_PLANES = 8


def _emb_hyperplanes() -> list[list[int]]:
    """Deterministic ±1 hyperplane coefficients: sign from the shared 60-bit
    md5 hash of 'plane:j:i'. Computed in Python once and embedded as literals
    in BOTH the Spark expression and the oracle SQL — the two engines never
    have to agree on anything but literal arithmetic."""
    import hashlib

    planes = []
    for j in range(EMB_N_PLANES):
        row = []
        for i in range(EMB_DIM):
            h = int(hashlib.md5(f"plane:{j}:{i}".encode()).hexdigest()[:15], 16)
            row.append(1 if h % 2 == 1 else -1)
        planes.append(row)
    return planes


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: for each of the first EMB_N_QUERIES vectors,
    the EMB_TOPK nearest neighbors. The query side is broadcast (tiny dim
    table x full scan — the canonical ANN baseline shape); dot products run
    JVM-side via zip_with + aggregate (left fold, deterministic order).

    r6: _fan_out on the corpus scan — the interpreted per-element dot folds
    (8 queries x 64 dims per corpus row) are the cost, and the single-row-
    group file otherwise pins them to one task. Each dot is a per-row left
    fold with a fixed order, so re-partitioning cannot change any value."""
    (emb,) = _tables(spark, sf_dir, "embeddings")
    vecs = _fan_out(emb, "vec_id").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    vecs = vecs.withColumn("norm", norm)
    q = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    ).filter(F.col("query_id") < EMB_N_QUERIES)
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        F.broadcast(q)
        .join(vecs, q.query_id != vecs.vec_id)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qn") * F.col("norm")), 6).alias("cosine"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= EMB_TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


SQL_EMB_TOPK = f"""
WITH vecs AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS norm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qn FROM vecs WHERE vec_id < {EMB_N_QUERIES}
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_sum([q.qv[i] * c.v[i] for i in range(1, {EMB_DIM + 1})])
               / (q.qn * c.norm), 6) AS cosine
  FROM q JOIN vecs c ON q.query_id != c.vec_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {EMB_TOPK}
"""


def _emb_bucket_col(planes: list[list[int]]):
    """JVM-side sign-LSH bucket id over the `v` double-array column."""
    bucket = F.lit(0)
    for j, row in enumerate(planes):
        coeffs = F.array(*[F.lit(float(c)) for c in row])
        dot = F.aggregate(
            F.zip_with("v", coeffs, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def _probe_masks() -> list[int]:
    """Multiprobe masks: exact bucket + every 1-bit and 2-bit flip (37 probes
    over 8 planes). Probe depth is the recall/cost dial: on near-random
    vectors, recall ~ 2x the corpus fraction scanned (measured here: 1-bit =
    4% scan / 0.17 recall, 2-bit = 15% / 0.38, 3-bit = 37% / 0.71 vs
    brute-force top-3); clustered real embeddings do far better at the same
    depth. Query-side only — 37 probe rows per QUERY, corpus side untouched."""
    masks = [0]
    masks += [1 << j for j in range(EMB_N_PLANES)]
    masks += [
        (1 << j) | (1 << k)
        for j in range(EMB_N_PLANES)
        for k in range(j + 1, EMB_N_PLANES)
    ]
    return masks


def q_emb_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN top-k (the actual similarity-search operator, extending
    emb_lsh_buckets from occupancy to retrieval): each query vector probes its
    own bucket PLUS nearby buckets (multiprobe, _probe_masks), candidates are
    deduped, scored with exact cosine, and ranked top-k per query.

    Scale shape: the probe explode multiplies only the (tiny) query side; the
    candidate join is an equi-join on the bucket id (the shuffle key), NOT an
    all-pairs cross — corpus-side work is proportional to probed-bucket
    occupancy. Brute-force cosine (q_emb_cosine_topk) is the small-scale
    baseline this replaces.

    r6: _fan_out on the corpus scan — the 8-plane bucket assignment is an
    interpreted 64-dim fold per plane per row and otherwise runs in one
    task (single-row-group file); per-row folds are partition-independent."""
    (emb,) = _tables(spark, sf_dir, "embeddings")
    planes = _emb_hyperplanes()
    vecs = _fan_out(emb, "vec_id").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    # no checkpoint despite two references (r6): the query-side reference
    # filters vec_id < EMB_N_QUERIES, which pushes down to the scan, so its
    # "recompute" assigns buckets for 8 rows — materializing the full corpus
    # assignment to avoid that cost more than it saved (1.83 s -> 1.18 s at
    # sf1.0). The corpus-side reference is a single pass either way.
    assigned = vecs.select(
        "vec_id", "v", norm.alias("norm"), _emb_bucket_col(planes).alias("bucket")
    )

    q = assigned.filter(F.col("vec_id") < EMB_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
        F.explode(
            F.array(
                *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in _probe_masks()]
            )
        ).alias("bucket"),
    )
    cand = (
        q.join(assigned, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "qn", F.col("vec_id").alias("neighbor_id"), "v", "norm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(dot / (F.col("qn") * F.col("norm")), 6).alias("cosine"),
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= EMB_TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _sql_emb_knn() -> str:
    planes = _emb_hyperplanes()
    bits = []
    for j, row in enumerate(planes):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {float(c)}" for i, c in enumerate(row)
        )
        bits.append(f"CASE WHEN ({terms}) >= 0 THEN {1 << j} ELSE 0 END")
    bucket = " + ".join(bits)
    probes = ", ".join(f"xor(bucket, {m})" for m in _probe_masks())
    return f"""
WITH vecs AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS norm,
         ({bucket}) AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qn,
         unnest([{probes}]) AS bucket
  FROM vecs WHERE vec_id < {EMB_N_QUERIES}
), cand AS (
  SELECT DISTINCT q.query_id, q.qv, q.qn, c.vec_id AS neighbor_id, c.v, c.norm
  FROM q JOIN vecs c ON q.bucket = c.bucket AND c.vec_id != q.query_id
), scored AS (
  SELECT query_id, neighbor_id,
         round(list_sum([qv[i] * v[i] for i in range(1, {EMB_DIM + 1})])
               / (qn * norm), 6) AS cosine
  FROM cand
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {EMB_TOPK}
"""


SQL_EMB_KNN = _sql_emb_knn()


def q_emb_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing (the ANN scale path): 8 deterministic ±1 hyperplanes
    -> 8-bit bucket id per vector; output bucket occupancy. At corpus scale
    the bucket id becomes the shuffle key for bucketed candidate generation
    (same staged-pruning design as the image LSH)."""
    (emb,) = _tables(spark, sf_dir, "embeddings")
    planes = _emb_hyperplanes()
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    bucket = F.lit(0)
    for j, row in enumerate(planes):
        coeffs = F.array(*[F.lit(float(c)) for c in row])
        dot = F.aggregate(
            F.zip_with("v", coeffs, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    assigned = vecs.select("vec_id", bucket.alias("bucket"))
    return assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec")
    )


def _sql_emb_lsh() -> str:
    planes = _emb_hyperplanes()
    bits = []
    for j, row in enumerate(planes):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {float(c)}" for i, c in enumerate(row)
        )
        bits.append(f"CASE WHEN ({terms}) >= 0 THEN {1 << j} ELSE 0 END")
    bucket = " + ".join(bits)
    return (
        f"SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec\n"
        f"FROM (SELECT vec_id, {bucket} AS bucket FROM embeddings)\n"
        f"GROUP BY bucket"
    )


SQL_EMB_LSH = _sql_emb_lsh()


IVF_K = 16  # coarse-quantizer cells; production sizes K ~ sqrt(corpus)
IVF_NPROBE = 4  # cells scanned per query (recall/cost dial)


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (operators/ann.py): deterministic K-cell coarse
    quantizer (seed centroids = the K smallest vec_ids, iters=0 so the
    DuckDB oracle can reproduce the identical index), map-side cell
    assignment (zero corpus shuffle), nprobe-cell search. The third ANN
    shape next to brute-force (emb_cosine_topk) and multiprobe sign-LSH
    (emb_lsh_knn); unlike LSH buckets, IVF cells PARTITION the corpus, so
    search needs no candidate dedup. Lloyd-refined centroids (the quality
    path, SQL-inexpressible floats) are covered by tests/test_ann.py."""
    from dupion_spark.operators import ann

    (emb,) = _tables(spark, sf_dir, "embeddings")
    vecs = ann.normed_vecs(emb).localCheckpoint(eager=False)  # seed + assign + query
    cents = ann.seed_centroids(vecs, IVF_K)
    assigned = ann.ivf_assign(vecs, cents)
    q = vecs.filter(F.col("vec_id") < EMB_N_QUERIES)
    return ann.ivf_search(assigned, cents, q, EMB_TOPK, IVF_NPROBE)


SQL_EMB_IVF = f"""
WITH vecs AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS norm
  FROM embeddings
), cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id, v AS cv, norm AS cn
  FROM vecs ORDER BY vec_id LIMIT {IVF_K}
), assigned AS (
  SELECT vec_id, v, norm, cell_id FROM (
    SELECT t.vec_id, t.v, t.norm, c.cell_id,
           row_number() OVER (PARTITION BY t.vec_id ORDER BY
             round(list_sum([t.v[i] * c.cv[i] for i in range(1, {EMB_DIM + 1})])
                   / (t.norm * c.cn), 9) DESC,
             c.cell_id ASC) AS rn
    FROM vecs t CROSS JOIN cents c
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, qn, cell_id FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, q.norm AS qn, c.cell_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             round(list_sum([q.v[i] * c.cv[i] for i in range(1, {EMB_DIM + 1})])
                   / (q.norm * c.cn), 9) DESC,
             c.cell_id ASC) AS rn
    FROM vecs q CROSS JOIN cents c WHERE q.vec_id < {EMB_N_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_sum([p.qv[i] * a.v[i] for i in range(1, {EMB_DIM + 1})])
               / (p.qn * a.norm), 6) AS cosine
  FROM probes p JOIN assigned a ON p.cell_id = a.cell_id AND a.vec_id != p.query_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {EMB_TOPK}
"""


# ===========================================================================
# SimHash text dedup (dedup_simhash_docs / dedup_simhash_pairs) and
# embedding-cosine near-dup clustering (dedup_embedding)
# ===========================================================================

# 60-bit word-level SimHash (Charikar 2002): per-token 60-bit hash votes
# ±1 per bit position weighted by occurrence; sign of the per-bit sum is the
# signature bit. 60 bits (not 64) so the value stays a positive BIGINT in
# both engines — no sign-bit wraparound to reconcile.
DOC_SIMHASH_BITS = 60
DOC_SIMHASH_BANDS = 4
DOC_SIMHASH_BAND_BITS = 15          # 4 x 15 == 60
# pigeonhole: hamming <= bands-1 forces at least one untouched band, so
# banding catches EVERY pair within this radius (no LSH recall hole)
DOC_SIMHASH_MAX_HAMMING = DOC_SIMHASH_BANDS - 1


def q_dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 60-bit SimHash, fully JVM-side: explode tokens (with
    multiplicity — classic frequency-weighted SimHash), one md5-based 60-bit
    hash per token, 60 conditional sums (map-side combinable), sign → bit.
    Zero-token docs get simhash 0. (doc_id, simhash)."""
    (docs,) = _tables(spark, sf_dir, "documents")
    # _fan_out: the 60 integer ±1 sums are exact under any re-partitioning
    toks = (
        _fan_out(docs).filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(_tokens_col()).alias("tok"))
    )
    th = toks.withColumn("h", _h60(F.col("tok")))
    aggs = [
        F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{i}")
        for i in range(DOC_SIMHASH_BITS)
    ]
    bits = th.groupBy("doc_id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(DOC_SIMHASH_BITS):
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return (
        docs.select("doc_id")
        .join(bits, "doc_id", "left")
        .select("doc_id", F.coalesce(sim, F.lit(0)).cast("long").alias("simhash"))
    )


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup doc pairs by SimHash banding: distinct signatures collapse to
    a min-doc_id representative FIRST (identical-simhash docs are exact-dup
    territory, dedup_exact_docs — and at corpus scale boilerplate would
    otherwise make band buckets quadratic), then 4 x 15-bit band keys bucket
    the reps and in-bucket pairs keep hamming <= 3. Pigeonhole over 4 bands
    makes this EXACT within the radius — every rep pair at hamming <= 3 is
    emitted, no recall hole (property-tested against brute-force all-pairs
    in tests/test_signatures.py). (id_l, id_r, hamming)."""
    sim = q_dedup_simhash_docs(spark, sf_dir)
    reps = (
        sim.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
        .localCheckpoint(eager=False)  # consumed by both join sides
    )
    keyed = reps.select(
        "rep",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * DOC_SIMHASH_BAND_BITS)
                    .bitwiseAND(F.lit((1 << DOC_SIMHASH_BAND_BITS) - 1))
                    .alias("bk"),
                )
                for b in range(DOC_SIMHASH_BANDS)
            ])
        ).alias("p"),
    ).select("rep", "simhash", F.col("p.band").alias("band"), F.col("p.bk").alias("bk"))
    kl, kr = keyed.alias("l"), keyed.alias("r")
    hamming = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    ).cast("int")
    return (
        kl.join(
            kr,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bk") == F.col("r.bk"))
            & (F.col("l.rep") < F.col("r.rep")),
        )
        .select(
            F.col("l.rep").alias("id_l"),
            F.col("r.rep").alias("id_r"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= DOC_SIMHASH_MAX_HAMMING)
        .distinct()  # a pair at hamming 0..2 collides in >1 band
    )


def _sql_simhash_ctes() -> str:
    h60 = H60_SQL.format(x="tok")
    bsum = ",\n".join(
        f"    sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(DOC_SIMHASH_BITS)
    )
    scol = " + ".join(
        f"(CASE WHEN bits.b{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(DOC_SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
), th AS (
  SELECT doc_id, {h60} AS h FROM toks
), bits AS (
  SELECT doc_id,
{bsum}
  FROM th GROUP BY doc_id
), sim AS (
  SELECT d.doc_id, CAST(coalesce({scol}, 0) AS BIGINT) AS simhash
  FROM documents d LEFT JOIN bits ON d.doc_id = bits.doc_id
)"""


SQL_DEDUP_SIMHASH = _sql_simhash_ctes() + "\nSELECT doc_id, simhash FROM sim"

SQL_DEDUP_SIMHASH_PAIRS = _sql_simhash_ctes() + f""",
reps AS (SELECT simhash, min(doc_id) AS rep FROM sim GROUP BY simhash),
keyed AS (
  SELECT rep, simhash, band,
         (simhash >> (band * {DOC_SIMHASH_BAND_BITS})) & {(1 << DOC_SIMHASH_BAND_BITS) - 1} AS bk
  FROM (SELECT rep, simhash, unnest(range({DOC_SIMHASH_BANDS})) AS band FROM reps)
)
SELECT DISTINCT l.rep AS id_l, r.rep AS id_r,
       CAST(bit_count(xor(CAST(l.simhash AS BIGINT), CAST(r.simhash AS BIGINT))) AS INT) AS hamming
FROM keyed l JOIN keyed r
  ON l.band = r.band AND l.bk = r.bk AND l.rep < r.rep
WHERE bit_count(xor(CAST(l.simhash AS BIGINT), CAST(r.simhash AS BIGINT))) <= {DOC_SIMHASH_MAX_HAMMING}
"""


# embedding-cosine near-dup: sign-LSH multiprobe candidate pairs over the
# corpus (collide iff bucket hamming <= 2 — probe side emits every <=2-bit
# flip of its 8-bit bucket, 37 skinny rows per vector), exact-cosine verify,
# connected components. tau is tuned to the synthetic fixture's cosine range
# (random 64-dim vectors top out ~0.51; real near-dup embeddings sit >0.95,
# where the same 8-plane probe scheme catches >99%).
EMB_DEDUP_TAU = 0.42


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup clusters: (vec_id, cluster_id, cluster_size)
    for the whole corpus (singletons cluster to themselves). Pipeline shape =
    the image flagship's: skinny candidate generation (ids + bucket keys
    only — vectors do NOT ride the 37x probe explode), re-join vectors for
    the exact-cosine verify, large-star/small-star CC on verified edges."""
    from dupion_spark.operators.connected_components import (
        attach_singletons,
        connected_components,
    )

    (emb,) = _tables(spark, sf_dir, "embeddings")
    planes = _emb_hyperplanes()
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    vecs = vecs.select(
        "vec_id", "v", norm.alias("norm"), _emb_bucket_col(planes).alias("bucket")
    ).localCheckpoint(eager=False)  # probe side, exact side, 2x verify join

    skinny = vecs.select("vec_id", "bucket")
    probes = skinny.select(
        "vec_id",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in _probe_masks()])
        ).alias("bucket"),
    )
    # each unordered pair matches on exactly ONE mask (= xor of the two
    # buckets), so the join emits no duplicates
    cand = (
        probes.alias("l")
        .join(skinny.alias("r"), "bucket")
        .filter(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(F.col("l.vec_id").alias("id_l"), F.col("r.vec_id").alias("id_r"))
    )
    lv = vecs.select(
        F.col("vec_id").alias("id_l"), F.col("v").alias("lv"), F.col("norm").alias("ln")
    )
    rv = vecs.select(
        F.col("vec_id").alias("id_r"), F.col("v").alias("rv"), F.col("norm").alias("rn")
    )
    dot = F.aggregate(
        F.zip_with("lv", "rv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    edges = (
        cand.join(lv, "id_l")
        .join(rv, "id_r")
        .filter(F.round(dot / (F.col("ln") * F.col("rn")), 6) >= EMB_DEDUP_TAU)
        .select("id_l", "id_r")
    )
    labels = attach_singletons(
        connected_components(edges),
        vecs.select(F.col("vec_id").alias("image_id")),
    ).select(F.col("image_id").alias("vec_id"), F.col("cluster_root").alias("cluster_id"))
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select("vec_id", "cluster_id", "cluster_size")


def _sql_dedup_embedding() -> str:
    planes = _emb_hyperplanes()
    bits = []
    for j, row in enumerate(planes):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {float(c)}" for i, c in enumerate(row)
        )
        bits.append(f"CASE WHEN ({terms}) >= 0 THEN {1 << j} ELSE 0 END")
    bucket = " + ".join(bits)
    return f"""
WITH vecs AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS norm,
         ({bucket}) AS bucket
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_l, b.vec_id AS id_r
  FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
  WHERE bit_count(xor(CAST(a.bucket AS BIGINT), CAST(b.bucket AS BIGINT))) <= 2
    AND round(list_sum([a.v[i] * b.v[i] for i in range(1, {EMB_DIM + 1})])
              / (a.norm * b.norm), 6) >= {EMB_DEDUP_TAU}
), edges AS (
  SELECT id_l AS a, id_r AS b FROM pairs
  UNION SELECT id_r, id_l FROM pairs
), reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT vec_id, vec_id FROM vecs
    UNION
    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
  ) SELECT * FROM r
), lab AS (
  SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a
)
SELECT vec_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM lab
"""


SQL_DEDUP_EMBEDDING = _sql_dedup_embedding()


# ---------------------------------------------------------------------------
# end-to-end text near-dup clustering — the doc-table analog of the image
# flagship (img_clusters): MinHash LSH candidate pairs -> exact n-gram
# Jaccard verify -> connected components -> per-doc cluster labels
# ---------------------------------------------------------------------------

# verify gate: the fixture's pair jaccards are bimodal (LSH junk ~0.06,
# genuine near-dups >=0.98 at sf0.01); 0.8 is the standard near-dup cut and
# sits in the empty middle of the distribution, so the edge set is stable
# against float noise in either engine
DOC_CLUSTER_TAU = 0.8


def q_dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for EVERY document — singletons
    cluster to themselves. Edges are ngram_jaccard pairs at jaccard >=
    DOC_CLUSTER_TAU; clustering is the same large-star/small-star CC the
    image flagship uses (no GraphFrames). All corpus-scale pieces inherit
    their shapes from the audited paths: capped LSH banding (_doc_pairs),
    checkpointed shared subplans, skinny id-only edge table into CC."""
    from dupion_spark.operators.connected_components import (
        attach_singletons,
        connected_components,
    )

    (docs,) = _tables(spark, sf_dir, "documents")
    edges = (
        q_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= DOC_CLUSTER_TAU)
        .select("id_l", "id_r")
    )
    assigned = connected_components(edges)
    labels = attach_singletons(
        assigned, docs.select(F.col("doc_id").alias("image_id"))
    ).select(F.col("image_id").alias("doc_id"), F.col("cluster_root").alias("cluster_id"))
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select("doc_id", "cluster_id", "cluster_size")


SQL_DEDUP_CLUSTERS_DOCS = (
    _sql_sig_ctes() + ",\n" + _sql_pairs_ctes() + ",\n"
        "counts AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),\n"
        "shared AS (SELECT p.id_l, p.id_r, count(*) AS n_inter\n"
        "           FROM pairs p JOIN shingles sl ON sl.doc_id = p.id_l\n"
        "                        JOIN shingles sr ON sr.doc_id = p.id_r AND sr.shingle = sl.shingle\n"
        "           GROUP BY p.id_l, p.id_r),\n"
        "jacc AS (SELECT s.id_l, s.id_r,\n"
        "                round(CAST(s.n_inter AS DOUBLE) / (cl.n_sh + cr.n_sh - s.n_inter), 6) AS jaccard\n"
        "         FROM shared s JOIN counts cl ON cl.doc_id = s.id_l\n"
        "                       JOIN counts cr ON cr.doc_id = s.id_r),\n"
        f"edges AS (SELECT id_l AS a, id_r AS b FROM jacc WHERE jaccard >= {DOC_CLUSTER_TAU}\n"
        f"          UNION SELECT id_r, id_l FROM jacc WHERE jaccard >= {DOC_CLUSTER_TAU}),\n"
        "reach AS (\n"
        "  WITH RECURSIVE r(a, b) AS (\n"
        "    SELECT doc_id, doc_id FROM documents\n"
        "    UNION\n"
        "    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a\n"
        "  ) SELECT * FROM r\n"
        "),\n"
        "lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)\n"
    "SELECT doc_id, cluster_id,\n"
    "       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size\n"
    "FROM lab"
)


# ===========================================================================
# registry
# ===========================================================================
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "a1_size_groups": q_a1_size_groups,
        "a2_hash_groups": q_a2_hash_groups,
        "f1_size_range": q_f1_size_range,
        "f2_candidate_prune": q_f2_candidate_prune,
        "a4_rollup": q_a4_rollup,
        "a5_occurrence_counts": q_a5_occurrence_counts,
        "a6_runlength": q_a6_runlength,
        "o6_senpai_election": q_o6_senpai_election,
        "o2_export_order": q_o2_export_order,
        "j2_treediff": q_j2_treediff,
        "j3_shadow": q_j3_shadow,
        "p1_rule0": _p1_rule_query(0),
        "p1_rule1": _p1_rule_query(1),
        "p1_rule2": _p1_rule_query(2),
        "p1_rule3": _p1_rule_query(3),
        "dedup_exact_docs": q_dedup_exact_docs,
        "dedup_minhash_docs": q_dedup_minhash_docs,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_simhash_docs": q_dedup_simhash_docs,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_embedding": q_dedup_embedding,
        "dedup_clusters_docs": q_dedup_clusters_docs,
        "ngram_jaccard": q_ngram_jaccard,
        "text_fingerprint": q_text_fingerprint,
        "m1_dedup_plan": q_m1_dedup_plan,
        "m3_apply_dedup": q_m3_apply_dedup,
        "o3_tree_sort": q_o3_tree_sort,
        "p2_tree_export": q_p2_tree_export,
        "o4_preview_topk": q_o4_preview_topk,
        "text_stats": q_text_stats,
        "text_langid": q_text_langid,
        "events_window_agg": q_events_window_agg,
        "stream_dedup_batch_equiv": q_stream_dedup_batch_equiv,
        "q1_pricing": q_q1_pricing,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_lsh_buckets": q_emb_lsh_buckets,
        "emb_lsh_knn": q_emb_lsh_knn,
        "emb_ivf_topk": q_emb_ivf_topk,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "a1_size_groups": SQL_A1,
        "a2_hash_groups": SQL_A2,
        "f1_size_range": SQL_F1_SIZE_RANGE,
        "f2_candidate_prune": SQL_F2,
        "a4_rollup": SQL_A4,
        "a5_occurrence_counts": SQL_A5,
        "a6_runlength": SQL_A6,
        "o6_senpai_election": SQL_O6,
        "o2_export_order": SQL_O2,
        "j2_treediff": SQL_J2,
        "j3_shadow": SQL_J3,
        "p1_rule0": SQL_P1_RULES[0],
        "p1_rule1": SQL_P1_RULES[1],
        "p1_rule2": SQL_P1_RULES[2],
        "p1_rule3": SQL_P1_RULES[3],
        "dedup_exact_docs": SQL_DEDUP_EXACT,
        "dedup_minhash_docs": SQL_DEDUP_MINHASH,
        "dedup_minhash_pairs": SQL_DEDUP_MINHASH_PAIRS,
        "dedup_simhash_docs": SQL_DEDUP_SIMHASH,
        "dedup_simhash_pairs": SQL_DEDUP_SIMHASH_PAIRS,
        "dedup_embedding": SQL_DEDUP_EMBEDDING,
        "dedup_clusters_docs": SQL_DEDUP_CLUSTERS_DOCS,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "text_fingerprint": SQL_TEXT_FINGERPRINT,
        "m1_dedup_plan": SQL_M1_DEDUP_PLAN,
        "m3_apply_dedup": SQL_M3_APPLY,
        "o3_tree_sort": SQL_O3_TREE_SORT,
        "p2_tree_export": SQL_P2_TREE_EXPORT,
        "o4_preview_topk": SQL_O4_PREVIEW,
        "text_stats": SQL_TEXT_STATS,
        "text_langid": SQL_TEXT_LANGID,
        "events_window_agg": SQL_EVENTS_WINDOW,
        "stream_dedup_batch_equiv": SQL_STREAM_DEDUP,
        "q1_pricing": SQL_Q1,
        "emb_cosine_topk": SQL_EMB_TOPK,
        "emb_lsh_buckets": SQL_EMB_LSH,
        "emb_lsh_knn": SQL_EMB_KNN,
        "emb_ivf_topk": SQL_EMB_IVF,
    }
