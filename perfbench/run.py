#!/usr/bin/env python3
"""Benchmark for the dedup pipeline.

    python3 perfbench/run.py --workload dup_heavy --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --trace 0

Runs the real `dupion_spark.pipeline.run_pipeline` on local[nproc] from this
one driver process, as a closed loop with a single client: a pipeline run
starts only after the previous run's `clusters` and `canonical` are forced.
Every timed run is the first pipeline run in its JVM, as in a batch job.
Inputs are generated parquet made from --seed (cached under
perfbench/_work/cache); every run is checked against the planted truth.

--trace 0 prints the end-to-end metrics. --trace 1 alternates an untraced
and a traced run, each the first in its JVM; the traced one records spans
around the layer calls plus a Spark event log, and the per-layer metrics
are printed. The last stdout line is the JSON result; progress goes
to stderr. `--workload all` runs every workload in turn, each in its own
process. See perfbench/README.md for the workloads and metric predictions.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

# fixed across hosts so plans and task counts stay comparable
SHUFFLE_PARTITIONS = 8
N_SETUPS = 3
# a run must end within 180 s; stop starting repetitions past this
RUN_LIMIT_S = 165.0
# inputs of this many seeds per workload stay cached (least recently used
# go first): a ten-seed series run twice reuses its inputs
CACHE_KEEP = 12

END_TO_END = {
    "wall_s": "s", "images_per_s": "1/s", "setup_s": "s", "cpu_s": "s",
    "pair_recall": "ratio", "pair_precision": "ratio",
}


T_START = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def host_settings() -> dict[str, str]:
    """Environment that fits the run to this host: cores from the affinity
    mask (what nproc reports), driver heap within physical RAM, Spark scratch
    and temp files on disk inside the checkout, workers able to import the
    program from the checkout."""
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(3072, total_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }


def start_session(event_log_dir: str | None = None):
    from dupion_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", shuffle_partitions=SHUFFLE_PARTITIONS,
                     extra_conf=conf)


def _warm_worker(batches):
    import dupion_spark.functions.pagegather  # noqa: F401
    import dupion_spark.operators.features  # noqa: F401

    yield from batches


def warm_workers(spark) -> None:
    """Start the Python workers and import the program's worker modules."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInPandas(_warm_worker, "id long").count()


def stop_jvm() -> None:
    """Stop the Spark context and the JVM, and wait until every child ends."""
    from pyspark import SparkContext

    from perfbench.proctree import tree_alive

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in tree_alive(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while tree_alive(os.getpid()) and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


# -- workloads ----------------------------------------------------------------
class Outcome:
    def __init__(self, result, assignments: dict[str, str], n_canonical: int):
        self.result = result
        self.assignments = assignments
        self.n_canonical = n_canonical


def force(result) -> Outcome:
    assignments = {r.image_id: r.cluster_root
                   for r in result.clusters.select("image_id", "cluster_root").collect()}
    return Outcome(result, assignments, result.canonical.count())


def lineage_counts(result) -> dict[tuple[str, str], int]:
    return {(r.stage, r.part_key): r.rows_out
            for r in result.lineage.collect() if r.part_key != "*"}


def _prune_cache(prefix: str) -> None:
    entries = sorted(glob.glob(os.path.join(WORK, "cache", prefix + "*")),
                     key=os.path.getmtime)
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)


def _is_ready(path: str) -> bool:
    marker = os.path.join(path, "_READY")
    if not os.path.exists(marker):
        return False
    with open(marker) as fh:
        return fh.read() == ROOT  # checkpoints embed absolute paths


def _mark_ready(path: str) -> None:
    with open(os.path.join(path, "_READY"), "w") as fh:
        fh.write(ROOT)


class Workload:
    name = ""

    def __init__(self, seed: int):
        from perfbench.fixtures import FIXTURE_VERSION

        self.seed = seed
        self.key = f"{self.name}-v{FIXTURE_VERSION}-s{seed}"
        self.cache = os.path.join(WORK, "cache", self.key)
        self.src = os.path.join(self.cache, "source")
        self.ckpt = os.path.join(WORK, "run", self.name, "checkpoint")
        self.truth: dict = {}

    def cached(self) -> bool:
        return _is_ready(self.cache)

    def prepare(self, spark) -> bool:
        """One-time input generation; cached, excluded from set-up time.
        True when generation ran Spark jobs, which warm the JVM that the
        timed run must find cold."""
        ran_spark = False
        if not self.cached():
            shutil.rmtree(self.cache, ignore_errors=True)
            os.makedirs(self.cache)
            ran_spark = self.generate(spark)
            _mark_ready(self.cache)
            _prune_cache(self.name + "-")
        os.utime(self.cache)  # recently used: keep in the cache
        with open(os.path.join(self.cache, "truth.json")) as fh:
            self.truth = json.load(fh)
        return ran_spark

    def generate(self, spark) -> bool:
        """Write the inputs and truth.json; True when it ran Spark jobs."""
        raise NotImplementedError

    def write_truth(self, truth: dict) -> None:
        with open(os.path.join(self.cache, "truth.json"), "w") as fh:
            json.dump(truth, fh)

    def load(self, spark) -> None:
        self.images = spark.read.parquet(self.src)
        self.n_rows = self.images.count()

    def reset(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def run(self, spark) -> Outcome:
        raise NotImplementedError

    def check(self, outcome: Outcome) -> tuple[float, float, list[str]]:
        from perfbench import checker

        verdict = checker.score_clusters(outcome.assignments,
                                         self.truth["clusters"], self.truth["rows"])
        problems = verdict.problems + checker.check_canonical(
            outcome.n_canonical, outcome.assignments)
        return verdict.recall, verdict.precision, problems

    def decoded_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in glob.glob(os.path.join(self.src, "*.parquet")))


class DupHeavy(Workload):
    name = "dup_heavy"

    def generate(self, spark) -> bool:
        from perfbench.fixtures import write_dup_heavy

        write_dup_heavy(self.cache, self.seed)
        return False

    def load(self, spark) -> None:
        super().load(spark)
        self.partition_map = spark.read.parquet(
            os.path.join(self.cache, "partition_map.parquet"))

    def run(self, spark) -> Outcome:
        from dupion_spark.pipeline import run_pipeline

        return force(run_pipeline(spark, self.images, partition_map=self.partition_map,
                                  checkpoint_dir=self.ckpt, source_path=self.src))

    def shadowed(self, outcome: Outcome) -> set[str]:
        return {r.image_id for r in
                outcome.result.shadows.filter("shadowed").select("image_id").collect()}

    def check(self, outcome: Outcome) -> tuple[float, float, list[str]]:
        from perfbench import checker

        recall, precision, problems = super().check(outcome)
        problems += checker.check_shadows(self.shadowed(outcome), self.truth["shadowed"])
        return recall, precision, problems


class IncrementalAppend(Workload):
    """The base state is a full build: the program's scaling fixture and the
    checkpoint of a cold, checkpointed, file-backed run over it. The base does
    not depend on the seed, so it is made once per checkout; the seed draws
    the appended delta, and the resumed run is timed."""

    name = "incremental_append"

    def __init__(self, seed: int):
        from perfbench.fixtures import FIXTURE_VERSION

        super().__init__(seed)
        self.base = os.path.join(WORK, "cache", f"incremental-base-v{FIXTURE_VERSION}")
        self.src = os.path.join(self.base, "source")
        self.base_ckpt = os.path.join(self.base, "checkpoint")
        self.delta = os.path.join(self.cache, "delta")

    def cached(self) -> bool:
        return _is_ready(self.base) and super().cached()

    def generate(self, spark) -> bool:
        from dupion_spark.pipeline import run_pipeline
        from dupion_spark.sources.synth_spark import generate_scaling_fixture
        from perfbench.fixtures import (
            INC_BASE_ROWS,
            INC_BASE_SEED,
            INC_DELTA_ROWS,
            scaling_truth,
            write_scaling_delta,
        )

        build_base = not _is_ready(self.base)
        if build_base:
            shutil.rmtree(self.base, ignore_errors=True)
            base = generate_scaling_fixture(spark, self.src, INC_BASE_ROWS,
                                            seed=INC_BASE_SEED)
            force(run_pipeline(spark, base, checkpoint_dir=self.base_ckpt,
                               source_path=self.src))
            _mark_ready(self.base)
        write_scaling_delta(self.delta, INC_BASE_ROWS, INC_DELTA_ROWS, self.seed)
        truth = scaling_truth([(INC_BASE_SEED, 0, INC_BASE_ROWS),
                               (self.seed, INC_BASE_ROWS, INC_DELTA_ROWS)])
        truth.update(base_rows=INC_BASE_ROWS, delta_rows=INC_DELTA_ROWS)
        self.write_truth(truth)
        return build_base

    def place_delta(self) -> None:
        """Put this seed's delta parts in the base source, and take out any
        other seed's. A part already in place keeps its mtime_ns, and a copy
        gets the staged one, so file fingerprints never drift."""
        want = {"zz-delta-" + os.path.basename(f): f
                for f in glob.glob(os.path.join(self.delta, "*.parquet"))}
        for f in glob.glob(os.path.join(self.src, "zz-delta-*")):
            if os.path.basename(f) not in want:
                os.remove(f)
        for name, f in sorted(want.items()):
            dst = os.path.join(self.src, name)
            st = os.stat(f)
            if not os.path.exists(dst) or (
                (os.stat(dst).st_size, os.stat(dst).st_mtime_ns)
                != (st.st_size, st.st_mtime_ns)
            ):
                shutil.copy2(f, dst)

    def load(self, spark) -> None:
        self.place_delta()
        super().load(spark)

    def reset(self) -> None:
        super().reset()
        shutil.copytree(self.base_ckpt, self.ckpt)
        self.place_delta()

    def run(self, spark) -> Outcome:
        from dupion_spark.pipeline import run_pipeline

        return force(run_pipeline(spark, self.images, checkpoint_dir=self.ckpt,
                                  source_path=self.src))

    def check(self, outcome: Outcome) -> tuple[float, float, list[str]]:
        from perfbench import checker

        recall, precision, problems = super().check(outcome)
        problems += checker.check_reuse(lineage_counts(outcome.result),
                                        self.truth["base_rows"], self.truth["delta_rows"])
        return recall, precision, problems

    def decoded_bytes(self) -> int:
        return sum(os.path.getsize(f)
                   for f in glob.glob(os.path.join(self.src, "zz-delta-*.parquet")))


WORKLOADS = {w.name: w for w in (DupHeavy, IncrementalAppend)}


# -- measurement --------------------------------------------------------------
class Rep:
    def __init__(self):
        self.wall = self.cpu = self.peak_rss = None
        self.recall = self.precision = None
        self.problems: list[str] = []
        self.outcome: Outcome | None = None

    @property
    def ok(self) -> bool:
        return self.outcome is not None and not self.problems


class Bench:
    """Every timed pipeline run is the first one in its JVM, as in a batch
    job: JIT warm-up is part of the run, not of set-up."""

    def __init__(self, workload: Workload, seconds: int):
        self.wl = workload
        self.seconds = seconds
        self.t0 = time.monotonic()
        self.pid = os.getpid()
        self.spark = None
        self.reps: list[Rep] = []
        self.setups: list[float] = []
        self.relaunch_s = 15.0  # until one is measured

    def remaining(self) -> float:
        return RUN_LIMIT_S - (time.monotonic() - self.t0)

    def ready(self) -> None:
        """Load the fixture, restore the base state and warm the workers."""
        self.wl.load(self.spark)
        self.wl.reset()
        warm_workers(self.spark)

    def relaunch(self, event_log_dir: str | None = None) -> None:
        """A new JVM with a ready session, so the next run starts cold."""
        t = time.perf_counter()
        stop_jvm()
        self.spark = start_session(event_log_dir)
        self.ready()
        self.relaunch_s = time.perf_counter() - t

    def setup(self) -> None:
        """Generate or find the inputs, then time N_SETUPS set-ups: a new
        Spark session on the running JVM, fixture load, base-state restore
        and worker warm-up."""
        self.spark = start_session()
        t = time.perf_counter()
        ran_spark = self.wl.prepare(self.spark)
        log(f"inputs ready in {time.perf_counter() - t:.2f}s")
        if ran_spark:
            self.relaunch()
        for i in range(N_SETUPS):
            t = time.perf_counter()
            self.spark.stop()
            self.spark = start_session()
            self.ready()
            self.setups.append(time.perf_counter() - t)
            log(f"set-up {i + 1}: {self.setups[-1]:.2f}s")

    def rep(self, tracer=None) -> Rep:
        from perfbench.proctree import PeakRss, tree_cpu_s
        from perfbench.tracing import ROOT_LAYER

        self.wl.reset()
        rep = Rep()
        sc = self.spark.sparkContext
        timer = threading.Timer(max(5.0, self.remaining()), sc.cancelAllJobs)
        timer.start()
        cpu0 = tree_cpu_s(self.pid)
        try:
            with PeakRss(self.pid) as rss:
                t = time.perf_counter()
                if tracer is None:
                    rep.outcome = self.wl.run(self.spark)
                else:
                    with tracer.install(), tracer.span("pipeline", ROOT_LAYER):
                        rep.outcome = self.wl.run(self.spark)
                rep.wall = time.perf_counter() - t
            rep.cpu = tree_cpu_s(self.pid) - cpu0
            rep.peak_rss = rss.peak
            rep.recall, rep.precision, rep.problems = self.wl.check(rep.outcome)
        except Exception:
            rep.problems.append(traceback.format_exc())
        finally:
            timer.cancel()
        for p in rep.problems:
            log(f"FAILED: {p}")
        self.reps.append(rep)
        log(f"rep: wall {rep.wall}s cpu {rep.cpu}s "
            f"recall {rep.recall} precision {rep.precision}")
        if rep.outcome is not None:
            stages = rep.outcome.result.metrics["stages"]
            log("stage wall_ms: " + " ".join(f"{k}={v['wall_ms']}" for k, v in stages.items()))
        return rep

    def room_for(self, n_runs: int) -> bool:
        """Time left for n more runs, each after a relaunch."""
        walls = [r.wall for r in self.reps if r.wall]
        longest = max(walls) if walls else 0.0
        return self.remaining() > n_runs * 1.3 * (longest + self.relaunch_s)

    def measure(self) -> None:
        """Cold runs, each in a new JVM, until --seconds have passed."""
        deadline = time.monotonic() + self.seconds
        self.rep()
        while time.monotonic() < deadline and self.room_for(1):
            self.relaunch()
            self.rep()

    def measure_traced(self) -> dict:
        """Pairs of an untraced and a traced cold run until --seconds have
        passed; the traced one writes a Spark event log."""
        from perfbench.tracing import Tracer, attribute

        deadline = time.monotonic() + self.seconds
        untraced, traced, layers = [], [], []
        n = 0
        while True:
            if n:
                self.relaunch()
            untraced.append(self.rep().wall)
            log_dir = os.path.join(WORK, "eventlog", str(n))
            shutil.rmtree(log_dir, ignore_errors=True)
            self.relaunch(log_dir)
            tracer = Tracer(self.spark, self.pid)
            rep = self.rep(tracer)
            traced.append(rep.wall)
            counts = self.counts(rep) if rep.outcome is not None else {}
            self.spark.stop()  # flushes the event log
            if rep.outcome is not None:
                (log_file,) = glob.glob(os.path.join(log_dir, "*"))
                layer = attribute(tracer, 0, log_file)
                layer["features.input_bytes"] = (
                    layer.pop("features.spark_input_bytes") + self.wl.decoded_bytes()
                )
                layer.update(counts)
                layer["spark.peak_rss_mb"] = rep.peak_rss / 2**20
                layers.append(layer)
            n += 1
            if time.monotonic() >= deadline or not self.room_for(2):
                break
        out = {k: statistics.median(d[k] for d in layers) for k in (layers[0] if layers else {})}
        done_u = [w for w in untraced if w]
        done_t = [w for w in traced if w]
        out["trace.untraced_wall_s"] = statistics.median(done_u) if done_u else 0.0
        out["trace.traced_wall_s"] = statistics.median(done_t) if done_t else 0.0
        out["trace.overhead_s"] = out["trace.traced_wall_s"] - out["trace.untraced_wall_s"]
        return out

    def counts(self, rep: Rep) -> dict:
        """Work counts of one run, read after its timed region."""
        res = rep.outcome.result
        stages = res.metrics["stages"]
        lin = lineage_counts(res)
        passed = res.verified_edges.filter("passed").count()
        reused = lin.get(("verified_edges", "pairs_reused"), 0)
        attempted = lin.get(("verified_edges", "pairs_verified"), stages["pairs"]["rows"])
        total = lin.get(("verified_edges", "gather_bytes_total"), 0)
        return {
            "features.rows": lin.get(("features", "rows_recomputed"),
                                     stages["features"]["rows"]),
            "exact.reps": stages["signatures"]["rows"],
            # images that exact dedup folds into another image's representative
            "exact.prune_ratio": 1.0 - stages["signatures"]["rows"] / stages["features"]["rows"],
            "lsh.band_rows": stages["bands"]["rows"],
            "lsh.candidates": stages["pairs"]["rows"],
            "lsh.star_only_pairs": lin.get(("pairs", "star_only_pairs"), 0),
            "verify.pairs_attempted": attempted,
            "verify.pairs_passed": passed,
            "verify.pass_ratio": passed / max(1, attempted + reused),
            "verify.gather_read_ratio": (
                lin.get(("verified_edges", "gather_bytes_read"), 0) / total if total else 0.0
            ),
            "verify.pairs_reused": reused,
            "cc.edges_in": passed,
            "cc.clusters": len(set(rep.outcome.assignments.values())),
            "rollup.shadowed": (len(self.wl.shadowed(rep.outcome))
                                if isinstance(self.wl, DupHeavy) else 0),
            "checkpoint.stages_resumed": sum(1 for s in stages.values() if s["resumed"]),
            "checkpoint.rows_reused": lin.get(("features", "rows_reused"), 0),
            "checkpoint.rows_recomputed": lin.get(("features", "rows_recomputed"), 0),
        }

    def end_to_end(self) -> dict:
        done = [r for r in self.reps if r.outcome is not None]

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        wall = med([r.wall for r in done])
        return {
            "wall_s": wall,
            "images_per_s": self.wl.n_rows / wall if wall else 0.0,
            "setup_s": med(self.setups),
            "cpu_s": med([r.cpu for r in done]),
            "pair_recall": min((r.recall for r in done if r.recall is not None), default=0.0),
            "pair_precision": min((r.precision for r in done if r.precision is not None),
                                  default=0.0),
        }


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric the traced run prints."""
    from perfbench.tracing import LAYER_METRICS, LAYERS

    unit = {"self_s": "s", "cpu_s": "s", "jobs": "count", "task_s": "s",
            "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
            "spill_bytes": "bytes", "gc_s": "s", "no_task_s": "s"}
    out = {f"{layer}.{m}": unit[m] for layer in LAYERS for m in LAYER_METRICS}
    out.update({
        "features.rows": "count", "features.task_cpu_s": "s",
        "features.input_bytes": "bytes",
        "exact.reps": "count", "exact.prune_ratio": "ratio",
        "lsh.band_rows": "count", "lsh.candidates": "count",
        "lsh.star_only_pairs": "count", "lsh.shuffle_bytes": "bytes",
        "lsh.spill_bytes": "bytes", "lsh.task_skew": "ratio",
        "verify.pairs_attempted": "count", "verify.pairs_passed": "count",
        "verify.pass_ratio": "ratio", "verify.gather_read_ratio": "ratio",
        "verify.pairs_reused": "count",
        "cc.edges_in": "count", "cc.clusters": "count",
        "rollup.shadowed": "count",
        "checkpoint.bytes_written": "bytes", "checkpoint.stages_resumed": "count",
        "checkpoint.rows_reused": "count", "checkpoint.rows_recomputed": "count",
        "spark.jobs": "count", "spark.tasks": "count", "spark.gc_s": "s",
        "spark.shuffle_write_bytes": "bytes", "spark.no_task_s": "s",
        "spark.peak_rss_mb": "MB",
        "trace.untraced_wall_s": "s", "trace.traced_wall_s": "s",
        "trace.overhead_s": "s",
    })
    return out


def result_line(values: dict, units: dict, attempted: int, failed: int) -> str:
    return json.dumps({
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()},
    })


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args: argparse.Namespace) -> int:
    """Every workload in turn, each in its own process; one result line per
    workload, then a combined one with metrics named <workload>/<metric>."""
    import subprocess

    attempted = failed = 0
    metrics = {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            log(f"{name}: exited with {proc.returncode} and no result")
            return 1
        res = json.loads(lines[-1])
        print(json.dumps({"workload": name, **res}), flush=True)
        attempted += res["attempted"]
        failed += res["failed"]
        metrics.update({f"{name}/{k}": v for k, v in res["metrics"].items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dupion_spark")):
        log(f"program source dupion_spark/ not found under {ROOT}")
        return 2
    if args.workload == "all":
        return run_all(args)
    os.environ.update(host_settings())
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)
    log(f"settings: local[{os.environ['SPARK_GRAFT_CPUS']}], "
        f"driver memory {os.environ['SPARK_GRAFT_DRIVER_MEM']}, "
        f"shuffle partitions {SHUFFLE_PARTITIONS}")

    bench = Bench(WORKLOADS[args.workload](args.seed), args.seconds)
    try:
        bench.setup()
        if args.trace:
            values, units = bench.measure_traced(), per_layer_units()
        else:
            bench.measure()
            values, units = bench.end_to_end(), END_TO_END
    finally:
        stop_jvm()
        log("stopped")
    failed = sum(1 for r in bench.reps if not r.ok)
    log(f"error_rate {failed}/{len(bench.reps)} = {failed / max(1, len(bench.reps))}")
    print(result_line(values, units, len(bench.reps), failed), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
