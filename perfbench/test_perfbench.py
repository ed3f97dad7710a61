"""Toy-size self-tests of the benchmark: fixtures, checker and metric names.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark session is started.
"""

from __future__ import annotations

import json
import os

from perfbench import checker, fixtures
from perfbench.run import END_TO_END, WORKLOADS, per_layer_units

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TOY = fixtures.DupShape(rows=60, files=2, row_groups_per_file=1, zipf_head=6,
                        zipf_families=3, twin_crowd=4, boilerplate_captions=1,
                        boilerplate_share=3, dup_partition_pairs=1,
                        dup_partition_size=2)


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_dup_heavy_same_seed_same_bytes(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        fixtures.write_dup_heavy(str(tmp_path / name), seed, TOY)
    a, b, c = (_tree_bytes(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a != c


def test_dup_heavy_truth_matches_shape():
    tables, truth = fixtures.generate_dup_heavy(7, TOY)
    ids = tables["images"]["image_id"]
    assert truth["rows"] == len(ids) == TOY.rows
    members = [i for c in truth["clusters"] for i in c]
    assert len(members) == len(set(members)) and set(members) <= set(ids)
    # each duplicated partition pair plants its rows as shadowed
    assert len(truth["shadowed"]) == 2 * TOY.dup_partition_pairs * TOY.dup_partition_size


def test_scaling_delta_same_seed_same_bytes(tmp_path):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        fixtures.write_scaling_delta(str(tmp_path / name), 100, 6, seed, n_files=2)
    a, b, c = (_tree_bytes(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a != c


def test_scaling_truth_extends_into_the_delta():
    same = fixtures.scaling_truth([(1, 0, 200), (1, 200, 100)])
    other = fixtures.scaling_truth([(1, 0, 200), (2, 200, 100)])
    assert same["rows"] == other["rows"] == 300
    # same seed: the delta's block-row 4 joins the corpus-wide cluster
    assert ["s0000000004", "s0000000104", "s0000000204"] in same["clusters"]
    assert ["s0000000200", "s0000000201"] in same["clusters"]
    # another seed: it has no partner, so it is a singleton
    assert ["s0000000004", "s0000000104"] in other["clusters"]
    assert not any("s0000000204" in c for c in other["clusters"])


TRUTH = [["a", "b", "c"], ["d", "e"]]
FOUND = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f", "g": "g"}


def test_checker_passes_the_planted_clusters():
    v = checker.score_clusters(FOUND, TRUTH, 7)
    assert (v.recall, v.precision, v.ok) == (1.0, 1.0, True)


def test_checker_flags_a_split_cluster():
    v = checker.score_clusters({**FOUND, "c": "c"}, TRUTH, 7)
    assert v.recall < checker.MIN_RECALL and v.precision == 1.0
    assert not v.ok


def test_checker_flags_a_merged_cluster():
    v = checker.score_clusters({**FOUND, "d": "a", "e": "a"}, TRUTH, 7)
    assert v.precision < checker.MIN_PRECISION and v.recall == 1.0
    assert not v.ok


def test_checker_flags_a_missing_image():
    found = dict(FOUND)
    del found["g"]
    assert not checker.score_clusters(found, TRUTH, 7).ok


def test_checker_flags_wrong_duplicated_partitions():
    assert checker.check_shadows({"x", "y"}, ["x", "y"]) == []
    assert checker.check_shadows({"x"}, ["x", "y"])
    assert checker.check_shadows({"x", "y", "z"}, ["x", "y"])


def test_checker_flags_a_full_rebuild():
    ok = {("features", "rows_reused"): 2000, ("features", "rows_recomputed"): 100}
    rebuild = {("features", "rows_reused"): 0, ("features", "rows_recomputed"): 2100}
    assert checker.check_reuse(ok, 2000, 100) == []
    assert checker.check_reuse(rebuild, 2000, 100)
    assert checker.check_reuse({}, 2000, 100)


def test_checker_flags_a_canonical_row_count_mismatch():
    assert checker.check_canonical(4, FOUND) == []
    assert checker.check_canonical(3, FOUND)


def test_metric_and_workload_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == per_layer_units()
