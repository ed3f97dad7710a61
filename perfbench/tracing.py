"""Spans around the program's layer calls, and Spark event-log attribution.

Spans are recorded from the benchmark's side: `install` wraps
`CheckpointManager.stage` and the operator entry points `pipeline.py` calls,
so no program file changes. Entering a span sets the Spark job description to
the span name; the event log then ties every task to the span whose job ran
it. A layer's self time is its spans' durations minus child spans of other
layers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.proctree import tree_cpu_s

# checkpoint stage name -> layer (the repo module doing the stage's work)
STAGE_LAYER = {
    "features": "features", "signatures": "features",
    "hashes": "exact", "exact_groups": "exact", "reps": "exact",
    "bands": "lsh.bands", "pairs": "lsh.pairs",
    "verified_edges": "verify",
    "clusters": "cc",
    "canonical": "election",
    "rollup": "rollup", "shadows": "rollup",
}

# (module, function, layer) for the operator entry points pipeline.py calls
OPERATOR_CALLS = [
    ("dupion_spark.operators.features", "extract_features_from_files", "features"),
    ("dupion_spark.operators.features", "signatures_from_features", "features"),
    ("dupion_spark.operators.features", "hashes_from_features", "exact"),
    ("dupion_spark.operators.exact", "exact_groups", "exact"),
    ("dupion_spark.operators.exact", "representatives", "exact"),
    ("dupion_spark.operators.lsh", "band_table", "lsh.bands"),
    ("dupion_spark.operators.lsh", "candidate_pairs", "lsh.pairs"),
    ("dupion_spark.operators.verify", "verified_edges_from_files", "verify"),
    ("dupion_spark.operators.connected_components", "connected_components", "cc"),
    ("dupion_spark.operators.connected_components", "attach_singletons", "cc"),
    ("dupion_spark.operators.connected_components", "expand_representatives", "cc"),
    ("dupion_spark.operators.election", "canonical_map", "election"),
    ("dupion_spark.operators.rollup", "rollup_table", "rollup"),
    ("dupion_spark.operators.rollup", "duplicated_partitions", "rollup"),
    ("dupion_spark.operators.rollup", "shadowed_images", "rollup"),
]

# the root span's own layer: pipeline.py's work between stages (counts,
# lineage) and forcing the outputs
ROOT_LAYER = "pipeline"
LAYERS = ["features", "exact", "lsh.bands", "lsh.pairs", "verify", "cc",
          "election", "rollup", ROOT_LAYER]
LAYER_METRICS = ["self_s", "cpu_s", "jobs", "task_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes", "gc_s", "no_task_s"]


@dataclass
class Span:
    name: str
    layer: str
    parent: int | None
    start: float
    cpu_start: float
    end: float = 0.0
    cpu_end: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """In-memory span stack for one traced pipeline run."""

    def __init__(self, spark, pid: int):
        self.sc = spark.sparkContext
        self.pid = pid
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, layer, parent, time.time(), tree_cpu_s(self.pid)))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self.sc.setJobDescription(name)
        try:
            yield
        finally:
            span = self.spans[idx]
            span.end, span.cpu_end = time.time(), tree_cpu_s(self.pid)
            self._stack.pop()
            self.sc.setJobDescription(
                self.spans[self._stack[-1]].name if self._stack else None
            )

    @contextlib.contextmanager
    def install(self):
        """Wrap the layer entry points for the duration of the block."""
        import importlib

        from dupion_spark.sources.checkpoint import CheckpointManager

        patched = []
        orig_stage = CheckpointManager.stage

        @functools.wraps(orig_stage)
        def stage(mgr, name, *args, **kwargs):
            with self.span(f"stage:{name}", STAGE_LAYER.get(name, ROOT_LAYER)):
                return orig_stage(mgr, name, *args, **kwargs)

        CheckpointManager.stage = stage
        for mod_name, fn_name, layer in OPERATOR_CALLS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)

            def wrapped(*args, _orig=orig, _name=f"{mod_name.rsplit('.', 1)[1]}."
                        f"{fn_name}", _layer=layer, **kwargs):
                with self.span(_name, _layer):
                    return _orig(*args, **kwargs)

            setattr(mod, fn_name, functools.wraps(orig)(wrapped))
            patched.append((mod, fn_name, orig))
        try:
            yield
        finally:
            CheckpointManager.stage = orig_stage
            for mod, fn_name, orig in patched:
                setattr(mod, fn_name, orig)

    def self_intervals(self, idx: int) -> list[tuple[float, float]]:
        """The span's interval minus its children's (children are sequential
        calls on the driver thread, so they do not overlap)."""
        span = self.spans[idx]
        out, cur = [], span.start
        others = [self.spans[k] for k in span.children
                  if self.spans[k].layer != span.layer]
        for c in sorted(others, key=lambda s: s.start):
            out.append((cur, c.start))
            cur = c.end
        out.append((cur, span.end))
        return [(a, b) for a, b in out if b > a]

    def layer_self(self) -> dict[str, dict]:
        """Per layer: self time, process-tree CPU over the self time, and the
        self intervals. Children of the same layer stay inside the parent."""
        out = {layer: {"self_s": 0.0, "cpu_s": 0.0, "intervals": []} for layer in LAYERS}
        for idx, span in enumerate(self.spans):
            if span.parent is not None and self.spans[span.parent].layer == span.layer:
                continue  # already covered by the same-layer parent
            ivs = self.self_intervals(idx)
            rec = out.setdefault(span.layer, {"self_s": 0.0, "cpu_s": 0.0, "intervals": []})
            rec["self_s"] += sum(b - a for a, b in ivs)
            child_cpu = sum(self.spans[k].cpu_end - self.spans[k].cpu_start
                            for k in span.children
                            if self.spans[k].layer != span.layer)
            rec["cpu_s"] += (span.cpu_end - span.cpu_start) - child_cpu
            rec["intervals"].extend(ivs)
        return out

    def name_layers(self) -> dict[str, str]:
        return {s.name: s.layer for s in self.spans}


# -- event log ---------------------------------------------------------------
@dataclass
class TaskRec:
    stage: int
    launch: float
    finish: float
    run_s: float
    gc_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    input_bytes: int
    output_bytes: int


def read_event_log(path: str) -> tuple[list[TaskRec], dict, dict]:
    """Tasks, stage -> job description, job -> (description, submit time)."""
    tasks, stage_desc, job_desc = [], {}, {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job_desc[ev["Job ID"]] = (
                    ev.get("Properties", {}).get("spark.job.description"),
                    ev["Submission Time"] / 1000.0,
                )
            elif kind == "SparkListenerStageSubmitted":
                stage_desc[ev["Stage Info"]["Stage ID"]] = (
                    ev.get("Properties", {}).get("spark.job.description")
                )
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                tasks.append(TaskRec(
                    stage=ev["Stage ID"],
                    launch=info["Launch Time"] / 1000.0,
                    finish=info["Finish Time"] / 1000.0,
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                    output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
                ))
    return tasks, stage_desc, job_desc


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(busy: list[tuple[float, float]], a: float, b: float) -> float:
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in busy)


def skew(durations: list[float]) -> float:
    """Max over median task time (1.0 when there is nothing to compare)."""
    if len(durations) < 2:
        return 1.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def attribute(tracer: Tracer, root: int, log_path: str) -> dict:
    """Per-layer event-log sums plus Spark-wide totals over the root span."""
    tasks, stage_desc, job_desc = read_event_log(log_path)
    name_layer = tracer.name_layers()
    root_span = tracer.spans[root]
    in_root = [t for t in tasks if root_span.start <= t.launch <= root_span.end]
    busy = _union([(t.launch, t.finish) for t in in_root])
    self_time = tracer.layer_self()

    by_layer: dict[str, list[TaskRec]] = defaultdict(list)
    for t in in_root:
        by_layer[name_layer.get(stage_desc.get(t.stage), ROOT_LAYER)].append(t)
    jobs_by_layer: dict[str, int] = defaultdict(int)
    n_jobs_root = 0
    for desc, submitted in job_desc.values():
        if root_span.start <= submitted <= root_span.end:
            n_jobs_root += 1
            jobs_by_layer[name_layer.get(desc, ROOT_LAYER)] += 1

    out: dict[str, float] = {}
    for layer in LAYERS:
        ts = by_layer.get(layer, [])
        st = self_time.get(layer, {"self_s": 0.0, "cpu_s": 0.0, "intervals": []})
        out[f"{layer}.self_s"] = st["self_s"]
        out[f"{layer}.cpu_s"] = st["cpu_s"]
        out[f"{layer}.jobs"] = jobs_by_layer.get(layer, 0)
        out[f"{layer}.task_s"] = sum(t.run_s for t in ts)
        out[f"{layer}.shuffle_read_bytes"] = sum(t.shuffle_read for t in ts)
        out[f"{layer}.shuffle_write_bytes"] = sum(t.shuffle_write for t in ts)
        out[f"{layer}.spill_bytes"] = sum(t.spill for t in ts)
        out[f"{layer}.gc_s"] = sum(t.gc_s for t in ts)
        out[f"{layer}.no_task_s"] = sum(
            (b - a) - _covered(busy, a, b) for a, b in st["intervals"]
        )
    lsh = by_layer.get("lsh.bands", []) + by_layer.get("lsh.pairs", [])
    out["lsh.shuffle_bytes"] = sum(t.shuffle_read + t.shuffle_write for t in lsh)
    out["lsh.spill_bytes"] = sum(t.spill for t in lsh)
    out["lsh.task_skew"] = skew([t.finish - t.launch for t in lsh])
    feats = by_layer.get("features", [])
    out["features.task_cpu_s"] = sum(t.run_s for t in feats)
    out["features.spark_input_bytes"] = sum(t.input_bytes for t in feats)
    out["checkpoint.bytes_written"] = sum(t.output_bytes for t in in_root)
    out["spark.jobs"] = n_jobs_root
    out["spark.tasks"] = len(in_root)
    out["spark.gc_s"] = sum(t.gc_s for t in in_root)
    out["spark.shuffle_write_bytes"] = sum(t.shuffle_write for t in in_root)
    out["spark.no_task_s"] = (root_span.end - root_span.start) - _covered(
        busy, root_span.start, root_span.end
    )
    return out
