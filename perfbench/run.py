"""Lakehouse benchmark: one closed-loop client against the engine in this
checkout, at ``local[2]``.

    python3 perfbench/run.py --workload catalog_queries --seed 1 --seconds 7 --trace 0

Workloads: ``catalog_queries``, ``table_maintenance`` and ``nightly_etl``
(see NOTES.md). A run sets up (session, tables, one warm-up pass), then
times whole passes until ``--seconds`` have passed, checks every output,
and prints one diagnostics line and, last, one JSON result line with the
end-to-end metrics named in BENCHMARK.json. With
``--trace 1`` it instead times one untraced pass and a fixed number of
traced passes and reports the per-layer metrics; the spans are written
under ``.perfbench/traces/``.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "customer_activity_lakehouse_spark"

WORKLOADS = {
    "catalog_queries": ("catalog_queries", "CatalogQueries"),
    "table_maintenance": ("table_maintenance", "TableMaintenance"),
    "nightly_etl": ("nightly_etl", "NightlyEtl"),
}
MASTER = "local[2]"
WARMUP_PASSES = 1
LEVEL_TOL = 0.10  # two passes within 10% of each other have levelled off
FIXTURE_VERSION = 1
# Driver JVM flags. C1 only: a run is too short for C2 to finish, so its
# compiler threads add a varying share of CPU to every timed pass and pass
# time keeps falling for longer than the warm-up can last. Serial GC with a
# fixed young generation: no concurrent GC threads competing with the two
# task threads, and no heap resizing driven by pause times, which made peak
# RSS follow host load. No perf-data file, which the JVM would write under
# /tmp whatever java.io.tmpdir says.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xmn128m -XX:-UsePerfData"


class Run:
    """State shared by a workload and the runner: the session, the seeded
    RNG, latency samples of the timed passes and the op counts."""

    def __init__(self, seed: int, work_dir: str):
        self.seed, self.work_dir = seed, work_dir
        self.rng = random.Random(seed)
        self.spark = self.tracer = self.layers = None
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.by_name: dict[str, list[float]] = defaultdict(list)
        self._pass: list[tuple[str, str, float]] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def op(self, cls: str, name: str, fn, check=None):
        """Run one op; an exception or a failed check counts it as failed."""
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.op_id = self.attempted
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - an op failure is a result
            self.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}", counted=False)
            return None
        self._pass.append((cls, name, time.perf_counter() - t0))
        problem = check(out) if check is not None else None
        if problem:
            self.fail(f"{name}: {problem}", counted=False)
        return out

    def take_latencies(self) -> list[tuple[str, str, float]]:
        """The (class, op, seconds) of the ops run since the last call."""
        out, self._pass = self._pass, []
        return out

    def keep_latencies(self, latencies: list[tuple[str, str, float]]) -> None:
        """Count latencies taken from a pass into the timed samples."""
        for cls, name, dt in latencies:
            self.samples[cls].append(dt)
            self.by_name[name].append(dt)

    def fail(self, msg: str, counted: bool = True) -> None:
        """Record a failure; ``counted`` adds a check that is not an op."""
        if counted:
            self.attempted += 1
        self.failed += 1
        self.failures.append(msg)


def _ensure_star(cache: str) -> tuple[str, float]:
    """The star fixture, generated once per checkout; returns (dir, seconds)."""
    from fixture import write_star

    star = os.path.join(cache, f"star-v{FIXTURE_VERSION}")
    if os.path.isdir(star):
        return star, 0.0
    t0 = time.perf_counter()
    tmp = f"{star}.tmp{os.getpid()}"
    write_star(tmp)
    os.replace(tmp, star)
    return star, time.perf_counter() - t0


def _session(run: Run, scratch: str):
    from customer_activity_lakehouse_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=MASTER,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} {JVM_OPTS}",
            "spark.local.dir": scratch,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run.work_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = SparkContext._jvm = None


def _class_latencies(samples: dict[str, list[float]]) -> dict:
    """Per op class: sample count, p50 and the highest percentile the count
    supports with ten samples beyond it (None when too few)."""
    from measure import highest_percentile, percentile

    out = {}
    for cls, xs in sorted(samples.items()):
        top = highest_percentile(len(xs)) or 0.9
        out[cls] = {"n": len(xs), "p50_s": percentile(xs, 0.5),
                    f"p{round(top * 100)}_s": percentile(xs, top)}
    return out


def execute(args, spec: dict, base: str) -> tuple[dict, dict, Run]:
    import measure
    from spans import Layers, Tracer

    star, build_s = _ensure_star(os.path.join(base, "cache"))
    work = os.path.join(base, f"run-{os.getpid()}")
    scratch = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run of this pid
    os.makedirs(scratch)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}"
    tempfile.tempdir = scratch

    run = Run(args.seed, work)
    mod_name, cls_name = WORKLOADS[args.workload]
    diag: dict = {"workload": args.workload, "seed": args.seed, "fixture_build_s": build_s}
    spark = None
    try:
        with measure.MemorySampler(os.getpid()) as mem:
            t_setup = time.perf_counter()
            host_setup = measure.cpu_times()
            spark = _session(run, scratch)
            session_s = time.perf_counter() - t_setup
            run.spark = spark
            run.tracer = Tracer(spark, enabled=False)
            run.layers = Layers(run.tracer)
            wl = getattr(importlib.import_module(mod_name), cls_name)(run, star)
            t0 = time.perf_counter()
            wl.setup()
            diag["table_build_s"] = time.perf_counter() - t0

            # One cold pass warms the JVM, the Python workers and the
            # tables; set-up ends where the first timed pass begins. A trace
            # run then times one untraced pass and ``traced_passes`` traced
            # ones, so that two traced runs of one seed execute the same ops.
            warm: list[float] = []
            timed: list[dict] = []  # per pass: wall, busy steal share, cpu, ops
            traced: list[dict] = []
            while True:
                tracing = bool(args.trace and timed)
                run.tracer.enabled = tracing
                start = time.perf_counter()
                if len(warm) == WARMUP_PASSES and not timed:
                    mark = (start, wl.start_timed(), measure.cpu_times(), _gc_seconds(spark))
                host0 = measure.cpu_times()
                ops0, c0 = run.attempted, measure.tree_cpu_seconds(os.getpid())
                wl.run_pass()
                wall = time.perf_counter() - start
                p = {"wall": wall, "steal": measure.busy_steal_share(host0, measure.cpu_times()),
                     "cpu": measure.tree_cpu_seconds(os.getpid()) - c0, "ops": run.attempted - ops0}
                latencies = run.take_latencies()
                run.tracer.enabled = False
                if len(warm) < WARMUP_PASSES:
                    warm.append(wall)
                elif tracing:
                    traced.append(p)
                else:
                    timed.append(p)
                    run.keep_latencies(latencies)
                wl.between_passes()
                if args.trace:
                    if len(traced) >= wl.traced_passes:
                        break
                elif timed and sum(p["wall"] for p in timed) >= args.seconds:
                    break
            t_timed, before, host_timed, gc0 = mark
            setup_s = t_timed - t_setup
            setup_steal = measure.busy_steal_share(host_setup, host_timed)
            diag["session_s"] = session_s
            diag["warmup_pass_s"] = warm
            gc_s = _gc_seconds(spark) - gc0
            ops = sum(p["ops"] for p in timed)
            diag["steal_share"] = measure.steal_share(host_timed, measure.cpu_times())
            diag["busy_steal_share"] = {"setup": setup_steal, "passes": [p["steal"] for p in timed]}
            diag["timed_pass_s"] = [p["wall"] for p in timed]
            diag["levelled"] = (abs(timed[1]["wall"] - timed[0]["wall"]) <= LEVEL_TOL * timed[0]["wall"]
                                if len(timed) > 1 else None)
            wl.end_checks()
            diag.update(wl.diagnostics(before))
        diag["class_latency"] = _class_latencies(run.samples)
        diag["op_median_s"] = {k: measure.median(v) for k, v in sorted(run.by_name.items())}
        diag["attempted"], diag["failed"] = run.attempted, run.failed
        diag["failures"] = run.failures[:5]

        if args.trace:
            spans = run.tracer.spans
            self_s = measure.self_times(spans)
            layers = wl.layer_metrics(spans, self_s)
            layers["session.get_spark_s"] = (session_s, "s")
            all_ops = ops + sum(p["ops"] for p in traced)
            layers["jvm.gc_s_per_op"] = (gc_s / max(1, all_ops), "s")
            layers["trace.overhead_share"] = (
                measure.mean([p["wall"] for p in traced]) / timed[0]["wall"] - 1.0, "ratio")
            trace_dir = os.path.join(base, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            run.tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
            metrics = {}
            for m in spec["per_layer"]:
                value, _unit = layers.get(m["name"], (0.0, m["unit"]))
                metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        else:
            # Wall and CPU time the host took away from the run (busy steal
            # share of each pass) are taken out; diagnostics keep the raw
            # numbers.
            adjusted = [p["wall"] * (1 - p["steal"]) for p in timed]
            metrics = {
                "setup_s": setup_s * (1 - setup_steal),
                "ops_per_s": ops / sum(adjusted),
                "pass_s": measure.median(adjusted),
                "cpu_s_per_op": sum(p["cpu"] * (1 - p["steal"]) for p in timed) / ops,
                "peak_pss_mb": mem.peak / 2**20,
            }
            diag["peak_pss_mb_by_command"] = {k: v / 2**20 for k, v in mem.peak_by_comm.items()}
            diag["unadjusted"] = {
                "setup_s": setup_s,
                "ops_per_s": ops / sum(p["wall"] for p in timed),
                "cpu_s_per_op": sum(p["cpu"] for p in timed) / ops,
            }
            metrics = {
                m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                for m in spec["end_to_end"]
            }
        return metrics, diag, run
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"perfbench: no {PACKAGE} package or BENCHMARK.json beside {HERE}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    try:
        metrics, diag, run = execute(args, spec, base)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result
        traceback.print_exc()
        return 1
    print("perfbench diagnostics " + json.dumps(diag, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
