"""Connected-components correctness on one combined graph, for both paths.

All shapes are packed into a single disjoint edge list so the iterative
algorithm runs ONCE (each star round costs seconds of Spark job overhead
locally): a long chain (the chain-link shape hot LSH buckets emit — must
converge in O(log n) rounds), a star, a triangle component, duplicate +
reversed edges, and self-loops. Each test runs the one-task union-find path
and, with ONE_TASK_MAX_EDGES patched to 0, the large-star/small-star path."""

import random

import pytest

from dupion_spark.operators import connected_components as cc
from dupion_spark.operators.connected_components import (
    attach_singletons,
    connected_components,
)

CHAIN = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(8)]
STAR = [("hub", f"leaf{i}") for i in range(8)]
TRIANGLE = [("t_a", "t_b"), ("t_b", "t_c"), ("t_a", "t_c")]
MESSY = [("m_b", "m_a"), ("m_a", "m_b"), ("m_b", "m_a"), ("m_a", "m_a")]
EDGES = CHAIN + STAR + TRIANGLE + MESSY

PATHS = {"one_task": cc.ONE_TASK_MAX_EDGES, "star": 0}


@pytest.fixture(params=sorted(PATHS))
def cc_path(request, monkeypatch):
    monkeypatch.setattr(cc, "ONE_TASK_MAX_EDGES", PATHS[request.param])
    return request.param


def test_combined_graph(spark, cc_path):
    df = spark.createDataFrame(EDGES, "id_l string, id_r string")
    nodes = spark.createDataFrame(
        [(n,) for n in {x for e in EDGES for x in e} | {"solo1", "solo2"}],
        "image_id string",
    )
    assign = {
        r["image_id"]: r["cluster_root"]
        for r in attach_singletons(connected_components(df), nodes).collect()
    }
    # chain: all 9 nodes collapse to the minimum in O(log n) rounds
    chain_nodes = {f"c{i:03d}" for i in range(9)}
    assert {assign[n] for n in chain_nodes} == {"c000"}
    # star
    star_nodes = {"hub"} | {f"leaf{i}" for i in range(8)}
    assert len({assign[n] for n in star_nodes}) == 1
    # triangle
    assert assign["t_a"] == assign["t_b"] == assign["t_c"] == "t_a"
    # duplicate/reversed/self-loop edges
    assert assign["m_a"] == assign["m_b"] == "m_a"
    # components stay separate
    roots = {assign["c000"], assign["hub"], assign["t_a"], assign["m_a"]}
    assert len(roots) == 4
    # singletons are their own clusters
    assert assign["solo1"] == "solo1" and assign["solo2"] == "solo2"
    # total coverage
    assert len(assign) == len(nodes.collect())


def _reference(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Plain Python union-find: every node -> the string minimum of its
    component (Python compares by code point, Spark by UTF-8 bytes: the same
    order)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# non-ASCII on purpose: 'é' and 'ß' sort after every ASCII letter, '～'
# (U+FF5E) before '😀' (U+1F600) by code point though not in UTF-16
ALPHABET = ["a", "Z", "0", "é", "ß", "日本", "～", "😀"]


def _shaped_edges(seed: int) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    path_nodes = [f"p:{rng.choice(ALPHABET)}{i}" for i in range(200)]
    rng.shuffle(path_nodes)
    path = list(zip(path_nodes, path_nodes[1:]))
    star = [("s:hub", f"s:{rng.choice(ALPHABET)}{i}") for i in range(100)]
    mega_nodes = [f"m:{rng.choice(ALPHABET)}{i}" for i in range(300)]
    # a random spanning tree plus extra edges: one component
    mega = [(mega_nodes[i], mega_nodes[rng.randrange(i)]) for i in range(1, 300)]
    mega += [(rng.choice(mega_nodes), rng.choice(mega_nodes)) for _ in range(300)]
    return path + star + mega


def test_paths_agree_with_reference(spark, monkeypatch):
    """Property test: random graphs packed with a 200-node path, a 100-leaf
    star and one mega-component give identical assignments on both paths,
    and every cluster_root is the string minimum of its component."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    node = st.builds(
        lambda c, i: f"r:{c}{i}", st.sampled_from(ALPHABET), st.integers(0, 40)
    )

    @settings(max_examples=3, deadline=None)
    @given(st.lists(st.tuples(node, node), max_size=120), st.integers(0, 2**16))
    def check(random_edges, seed):
        edges = random_edges + _shaped_edges(seed)
        df = spark.createDataFrame(edges, "id_l string, id_r string")
        expected = _reference([(a, b) for a, b in edges if a != b])
        got = {}
        for path, limit in PATHS.items():
            monkeypatch.setattr(cc, "ONE_TASK_MAX_EDGES", limit)
            got[path] = {
                r["image_id"]: r["cluster_root"]
                for r in connected_components(df).collect()
            }
        assert got["one_task"] == got["star"] == expected

    check()
