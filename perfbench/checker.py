"""Planted-truth checker shared by every workload.

Scores a clustering (image_id -> cluster_root) against planted clusters at
pair level: a pair of images is positive when both sit in one cluster.
Counts come from the contingency table of (truth cluster, found cluster), so
no pair list is ever materialized.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

# BASELINE gate: pair recall >= 0.99 against reference clusters; precision
# is held to the same floor
MIN_RECALL = 0.99
MIN_PRECISION = 0.99


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


@dataclass
class Verdict:
    recall: float
    precision: float
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


def score_clusters(assignments: dict[str, str], truth_clusters: list[list[str]],
                   n_rows: int) -> Verdict:
    """assignments: every image_id -> its cluster_root. Images missing from
    truth_clusters are planted singletons."""
    problems = []
    if len(assignments) != n_rows:
        problems.append(f"clusters cover {len(assignments)} images, expected {n_rows}")
    truth_of = {i: t for t, members in enumerate(truth_clusters) for i in members}
    found_sizes = Counter(assignments.values())
    # singletons get a unique negative label so they pair with nobody
    cells = Counter(
        (truth_of.get(i, -1 - k), root)
        for k, (i, root) in enumerate(assignments.items())
    )
    true_pos = sum(_pairs(n) for n in cells.values())
    truth_pairs = sum(_pairs(len(m)) for m in truth_clusters)
    found_pairs = sum(_pairs(n) for n in found_sizes.values())
    recall = true_pos / truth_pairs if truth_pairs else 1.0
    precision = true_pos / found_pairs if found_pairs else 1.0
    if recall < MIN_RECALL:
        problems.append(f"pair recall {recall:.4f} < {MIN_RECALL}")
    if precision < MIN_PRECISION:
        problems.append(f"pair precision {precision:.4f} < {MIN_PRECISION}")
    return Verdict(recall, precision, problems)


def check_shadows(shadowed: set[str], truth_shadowed: list[str]) -> list[str]:
    """Images inside duplicated partitions must be exactly the planted ones."""
    want = set(truth_shadowed)
    if shadowed == want:
        return []
    return [f"shadowed images: {len(shadowed - want)} unexpected, "
            f"{len(want - shadowed)} missing"]


def check_canonical(n_canonical: int, assignments: dict[str, str]) -> list[str]:
    """One canonical row per found cluster."""
    n_clusters = len(set(assignments.values()))
    if n_canonical == n_clusters:
        return []
    return [f"canonical has {n_canonical} rows for {n_clusters} clusters"]


def check_reuse(lineage: dict[tuple[str, str], int], base_rows: int,
                delta_rows: int) -> list[str]:
    """An incremental run must reuse every base row and decode only the
    delta; anything else is a silent full rebuild."""
    reused = lineage.get(("features", "rows_reused"))
    recomputed = lineage.get(("features", "rows_recomputed"))
    if (reused, recomputed) == (base_rows, delta_rows):
        return []
    return [f"incremental reuse: rows_reused={reused} rows_recomputed={recomputed},"
            f" expected {base_rows}/{delta_rows}"]
