"""Connected components via alternating large-star / small-star.

Union-find semantics as an iterative DataFrame self-join fixpoint — no
GraphFrames dependency (north_rule). The algorithm is the public
large-star/small-star method (Kiveris et al., "Connected Components in
MapReduce and Beyond", 2014): converges in O(log n) rounds even on path
graphs, which matters here because chain-linked hot LSH buckets
(operators/lsh.candidate_pairs) produce long paths that naive min-label
propagation would need O(n) rounds to collapse.

Skew notes: both stars are groupBy-min + join (map-side partial aggregation),
NOT windows, so a mega-star node (10^6-degree root after a few rounds) is
aggregated combiner-style instead of sorted in one task. Every round is
eagerly checkpointed to truncate the plan — each star embeds its input plan
~3x, so without truncation the logical plan grows ~9x per round and driver
planning time explodes exponentially by round 3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _neighbors(edges: DataFrame) -> DataFrame:
    """Undirected edge list -> both-direction (u, v) adjacency."""
    fwd = edges.select(F.col("id_l").alias("u"), F.col("id_r").alias("v"))
    rev = edges.select(F.col("id_r").alias("u"), F.col("id_l").alias("v"))
    return fwd.unionByName(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(u, min neighbors); connect all v > u to m."""
    nbrs = _neighbors(edges)
    mins = nbrs.groupBy("u").agg(F.min("v").alias("_mn"))
    return (
        nbrs.join(mins, "u")
        .withColumn("_m", F.least(F.col("u"), F.col("_mn")))
        .filter((F.col("v") > F.col("u")) & (F.col("v") != F.col("_m")))
        .select(F.col("v").alias("id_l"), F.col("_m").alias("id_r"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u over its <=u neighborhood N: m = min(N + {u});
    connect every node of N + {u} except m to m.

    Single-pass: both the neighbor edge (v, m) and the self edge (u, m) are
    emitted from one explode so the input plan is evaluated once per join
    side, not once per output branch (iterative plans multiply any
    re-evaluation)."""
    nbrs = _neighbors(edges).filter(F.col("v") <= F.col("u"))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("_mn"))
    withm = nbrs.join(mins, "u").withColumn("_m", F.least(F.col("u"), F.col("_mn")))
    return (
        withm.select(
            F.explode(F.array(F.col("v"), F.col("u"))).alias("id_l"),
            F.col("_m").alias("id_r"),
        )
        .filter(F.col("id_l") != F.col("id_r"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    """Cheap fixpoint check: (count, xor of per-edge hashes). bit_xor is
    order-insensitive and cannot overflow (ANSI mode is on in Spark 4)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("id_l", "id_r")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
) -> DataFrame:
    """edges(id_l, id_r) -> assignments(image_id, cluster_root).

    cluster_root is the minimum member id of the component (deterministic).
    Nodes appearing in no edge are NOT returned — callers union singletons via
    `attach_singletons`."""
    # LAZY checkpoints throughout: each round's convergence-check collect is
    # the ONE job that materializes (and caches) that round's star outputs —
    # lazy localCheckpoint still truncates the logical plan at first
    # materialization (each star embeds its input plan ~3x, so anything less
    # makes Catalyst re-optimization explode exponentially by round 3;
    # persist() caches data but does NOT truncate plans). The previous layout
    # ran 3 jobs per round (eager large, eager small, signature collect);
    # each job is ~1s of parallelism-independent wall in local mode, so on a
    # 4-round graph that alone was ~8s of serial L. On a real cluster with a
    # reliable checkpoint dir configured, swap localCheckpoint for
    # checkpoint() to keep fault tolerance.
    current = (
        edges.select("id_l", "id_r").filter(F.col("id_l") != F.col("id_r")).distinct()
    ).localCheckpoint(eager=False)
    prev_sig = _signature(current)  # materializes `current`
    for _ in range(max_iterations):
        large = _large_star(current).localCheckpoint(eager=False)
        nxt = _small_star(large).localCheckpoint(eager=False)
        sig = _signature(nxt)  # one job: materializes large, then nxt
        current = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: every edge is (member, root) with root = component minimum
    members = current.select(F.col("id_l").alias("image_id"), F.col("id_r").alias("cluster_root"))
    roots = current.select(F.col("id_r").alias("image_id"), F.col("id_r").alias("cluster_root"))
    return members.unionByName(roots).groupBy("image_id").agg(
        F.min("cluster_root").alias("cluster_root")
    )


def attach_singletons(assignments: DataFrame, nodes: DataFrame) -> DataFrame:
    """nodes(image_id) not present in assignments become their own cluster."""
    singles = nodes.select("image_id").join(assignments, "image_id", "left_anti").select(
        "image_id", F.col("image_id").alias("cluster_root")
    )
    return assignments.unionByName(singles)


def expand_representatives(assignments: DataFrame, reps: DataFrame) -> DataFrame:
    """Map rep-level cluster assignments back to every original image_id.

    reps: (image_id, rep_id) from operators/exact.representatives. Exact
    duplicates inherit their representative's cluster."""
    rep_assign = assignments.withColumnRenamed("image_id", "rep_id")
    return reps.join(rep_assign, "rep_id", "left").select(
        "image_id",
        F.coalesce(F.col("cluster_root"), F.col("rep_id")).alias("cluster_root"),
    )
