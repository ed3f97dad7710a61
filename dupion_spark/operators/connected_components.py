"""Connected components: one union-find task for small edge sets, else
alternating large-star / small-star rounds.

Small graphs (at most ONE_TASK_MAX_EDGES distinct edges, which the counted
checkpoint of the deduplicated edges already counts) finish in ONE task: the
edges are repartitioned to a single partition and a numpy union-find runs
inside mapInPandas, so nothing is collected to the driver and the whole graph
costs one shuffle instead of a job per star step. The edge bound caps that
task's memory. This is the compact-partition union-find of BTS (Load-Balanced
Distributed Union-Find, ICDE 2024) without its per-partition pre-pass.

Larger graphs run the public large-star/small-star method (Kiveris et al.,
"Connected Components in MapReduce and Beyond", 2014) as an iterative
DataFrame self-join fixpoint, with no GraphFrames dependency (north_rule).
It converges in O(log n) rounds even on path graphs, which matters here
because chain-linked hot LSH buckets (operators/lsh.candidate_pairs) produce
long paths that naive min-label propagation would need O(n) rounds to
collapse. The edge count is re-checked after every round, so a graph that
shrinks under the bound finishes in one task.

Skew notes: both stars are groupBy-min + join (map-side partial aggregation),
NOT windows, so a mega-star node (10^6-degree root after a few rounds) is
aggregated combiner-style instead of sorted in one task. Every round is
checkpointed to truncate the plan — each star embeds its input plan ~3x, so
without truncation the logical plan grows ~9x per round and driver planning
time explodes exponentially by round 3.

Both paths give every node the minimum member id of its component as
cluster_root, for string and numeric ids alike: Spark compares strings as
UTF-8 bytes and numpy/pandas compare them by code point, which is the same
order.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dupion_spark.sources.checkpoint import counted_checkpoint

# edge sets up to this many distinct edges finish in one union-find task
# (about 1 GB of Python strings and int64 codes at the upper end)
ONE_TASK_MAX_EDGES = 4_000_000


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


def _counted(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """edges checkpointed by one job that also takes the fixpoint signature
    (count, xor of per-edge hashes). bit_xor is order-insensitive and cannot
    overflow (ANSI mode is on in Spark 4)."""
    edges, values = counted_checkpoint(edges, {
        "h": F.coalesce(F.bit_xor(F.xxhash64("id_l", "id_r")), F.lit(0)),
    })
    return edges, (int(values["rows"]), int(values["h"]))


def _union_find(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body over ONE partition holding every edge: numpy
    union-find on sorted factorize codes, so a smaller code is a smaller id.

    Each round hooks the larger root of every edge under the smaller one and
    then compresses every node to its root by pointer jumping. parent[x] <= x
    holds throughout, so the root a component ends with is its smallest
    code, i.e. its minimum image_id."""
    frames = list(batches)
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    codes, ids = pd.factorize(
        pd.concat([pdf["id_l"], pdf["id_r"]], ignore_index=True), sort=True
    )
    left, right = codes[: len(pdf)], codes[len(pdf):]
    parent = np.arange(len(ids))
    while True:
        root_l, root_r = parent[left], parent[right]
        split = root_l != root_r
        if not split.any():
            break
        np.minimum.at(
            parent,
            np.maximum(root_l[split], root_r[split]),
            np.minimum(root_l[split], root_r[split]),
        )
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    yield pd.DataFrame({"image_id": ids, "cluster_root": ids.take(parent)})


def _one_task(edges: DataFrame) -> DataFrame:
    id_type = edges.schema["id_l"].dataType
    schema = T.StructType([T.StructField("image_id", id_type),
                           T.StructField("cluster_root", id_type)])
    return edges.repartition(1).mapInPandas(_union_find, schema)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
) -> DataFrame:
    """edges(id_l, id_r) -> assignments(image_id, cluster_root).

    cluster_root is the minimum member id of the component (deterministic).
    Nodes appearing in no edge are NOT returned. The pipeline leaves them
    to `expand_representatives`, whose left join makes an unassigned rep
    its own root; other callers union them via `attach_singletons`."""
    # Each round ends in the counted checkpoint of its small-star output,
    # which runs the lazily checkpointed large star beneath it and takes the
    # convergence signature on the way, so no collect follows. Under AQE
    # every shuffle stage beneath it runs as a job of its own: 9 jobs per
    # round, measured on a 2,000-edge path at 4 cores. Both stars are
    # checkpointed because a checkpoint truncates the logical plan (each
    # star embeds its input plan ~3x, so anything less makes Catalyst
    # re-optimization explode exponentially by round 3; persist() caches
    # data but does NOT truncate plans). On a real cluster with a reliable
    # checkpoint dir configured, swap localCheckpoint for checkpoint() to
    # keep fault tolerance.
    current, prev_sig = _counted(
        edges.select("id_l", "id_r").filter(F.col("id_l") != F.col("id_r")).distinct()
    )
    if prev_sig[0] <= ONE_TASK_MAX_EDGES:
        return _one_task(current)
    for _ in range(max_iterations):
        # lazy, no count follows; consumers: small star's neighbors + min join
        large = _large_star(current).localCheckpoint(eager=False)
        current, sig = _counted(_small_star(large))
        if sig == prev_sig:
            break
        if sig[0] <= ONE_TASK_MAX_EDGES:
            return _one_task(current)
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
    """Rep assignments (connected_components over the reps' names) ->
    (image_id, cluster_root) for every row of reps
    (operators/exact.representatives): one left join on rep_id. A rep in no
    edge is its own root."""
    rep_assign = assignments.select(F.col("image_id").alias("rep_id"), "cluster_root")
    return reps.join(rep_assign, "rep_id", "left").select(
        "image_id",
        F.coalesce(F.col("cluster_root"), F.col("rep_id")).alias("cluster_root"),
    )
