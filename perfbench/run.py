"""Closed-loop benchmark of the rasters_jl_spark engine.

    python3 perfbench/run.py --workload zonal_scan --seed 1 --seconds 20 --trace 0

Runs one workload in a fresh Spark JVM (``local[k]``, k = min(4, cores),
constant shuffle-partition count) with one client sending operations back
to back, checks every operation's output, and prints the metrics by name
and unit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (and writes the
spans as JSON). ``--workload all`` runs every workload, each in its own
process. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

SETUP_ROUNDS = 3
SHUFFLE_PARTITIONS = 8
SCAN_TASKS = 16
DRIVER_MEMORY = "2g"
WORKLOAD_NAMES = ("zonal_scan", "knn_lookup")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_process_files(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def launch_jvm() -> None:
    """Start the JVM PySpark talks to, with no SparkContext in it yet, so
    every set-up round below builds its session the same way."""
    from pyspark import SparkConf, SparkContext

    conf = SparkConf().set("spark.driver.memory", DRIVER_MEMORY)
    # a fixed-size heap: heap resizing is the largest source of run-to-run
    # spread in both op times and peak RSS
    conf.set("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY}")
    SparkContext._ensure_initialized(conf=conf)


def start_session(work: str):
    from rasters_jl_spark.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    spark = get_spark(
        master=f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # split the small corpus into SCAN_TASKS tasks, several per core
            # as a corpus-scale scan has, so that one slow core does not set
            # the time of a whole stage
            "spark.sql.files.minPartitionNum": str(SCAN_TASKS),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and the JVM PySpark launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def percentile_tail(xs: list[float]) -> tuple[float, int] | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    p = 100 * (n - 10) // n
    return s[math.ceil(p * n / 100) - 1], p


class Runner:
    def __init__(self, wl_cls, seed: int, seconds: float, trace: bool, work: str):
        from inputs import Inputs
        from tracing import Tracer

        self.tr = Tracer(trace)
        self.trace = trace
        self.seconds = seconds
        self.wl = wl_cls(Inputs(seed), work, self.tr)
        self.work = work
        self.failed_ops: set = set()  # op ids and probe-check names
        self.attempted = 0
        self.notes: list[str] = []

    def run_op(self, i: int) -> float:
        """One checked op; returns its wall time. Exceptions count as failures."""
        spark = self.wl.spark
        if self.tr.enabled:
            spark.sparkContext.setJobGroup(f"perfbench-op-{i}", self.wl.name)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tr.span("op", i):
                res = self.wl.op(i)
            wall = time.perf_counter() - t0
            if self.tr.enabled:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            with self.tr.span("check", i):
                ok = self.wl.check(i, res)
        except Exception as e:  # an op that raises is a failed op; keep measuring
            wall = time.perf_counter() - t0
            ok = False
            self.notes.append(f"op {i} raised {type(e).__name__}: {e}"[:400])
        if not ok:
            self.failed_ops.add(i)
        return wall

    def window(self, first: int, seconds: float) -> list[float]:
        """Closed loop: ops back to back for about ``seconds`` of op time.
        The loop stops once less than half a typical op is left, so the
        measured time is ``seconds`` give or take half an op."""
        walls = [self.run_op(first)]
        while sum(walls) < seconds - 0.5 * statistics.median(walls):
            walls.append(self.run_op(first + len(walls)))
        return walls

    def run(self) -> dict:
        from tracing import burn_ms, drain_listener_bus, jvm_gc_s, jvm_heap_peak_mb, jvm_pid, job_counts
        from tracing import median, peak_rss_mb

        m: dict[str, float] = {"host.burn_ms_before": burn_ms()}
        t0 = time.perf_counter()
        with self.tr.span("session.jvm_launch"):
            launch_jvm()
        m["session.jvm_launch_s"] = time.perf_counter() - t0
        setups = []
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            with self.tr.span("setup"):
                with self.tr.span("session.start"):
                    spark = start_session(self.work)
                self.wl.setup(spark)
            setups.append(time.perf_counter() - t0)
            if r < SETUP_ROUNDS - 1:
                spark.stop()
        pid = jvm_pid(spark)
        self.wl.prepare()

        self.tr.enabled = False
        warm = [self.run_op(i) for i in range(self.wl.warmup)]
        half = self.seconds / 2 if self.trace else self.seconds
        walls = self.window(len(warm), half)
        rss = peak_rss_mb(pid)
        n_first = len(warm) + len(walls)
        if self.trace:
            self.tr.enabled = True
            gc0 = jvm_gc_s(spark)
            traced = self.window(n_first, half)
            gc1 = jvm_gc_s(spark)
            drain_listener_bus(spark)
            counts = [job_counts(spark, f"perfbench-op-{i}") for i in range(n_first, n_first + len(traced))]
            m.update(self.wl.probes())
            for name, ok in self.wl.probe_checks.items():
                self.attempted += 1
                if not ok:
                    self.failed_ops.add(name)
                    self.notes.append(f"probe check failed: {name}")
            m["spark.jobs_per_op"] = median(c[0] for c in counts)
            m["spark.stages_per_op"] = median(c[1] for c in counts)
            m["spark.tasks_per_op"] = median(c[2] for c in counts)
            if len(set(counts)) > 1:
                self.notes.append(f"per-op (jobs, stages, tasks) vary: {sorted(set(counts))}")
            m["jvm.gc_s_per_op"] = (gc1 - gc0) / len(traced)
            m["jvm.heap_peak_mb"] = jvm_heap_peak_mb(spark)
            m["session.start_s"] = median(self.tr.durations("session.start"))
            m["trace.overhead_s"] = median(traced) - median(walls)
        m["host.burn_ms_after"] = burn_ms()
        self.failed_ops |= self.wl.finish()

        e2e = {
            "setup_s": median(setups),
            "pages_per_s": self.wl.inputs.n_pages * len(walls) / sum(walls),
            "op_p50_s": median(walls),
            "peak_rss_mb": rss,
        }
        h = len(walls) // 2
        trend = median(walls[-h:]) / median(walls[:h]) if h else 1.0
        tail = percentile_tail(walls)
        self.notes += [
            f"warm-up op walls (s): {[round(w, 3) for w in warm]}",
            f"timed op walls (s): {[round(w, 3) for w in walls]}",
            f"trend: second-half / first-half median op wall = {trend:.3f}",
            f"setup rounds (s): {[round(s, 3) for s in setups]}, JVM launch {m['session.jvm_launch_s']:.3f} s",
            "op tail: "
            + (f"p{tail[1]} = {tail[0]:.4f} s over {len(walls)} ops" if tail else f"n/a ({len(walls)} ops < 11)"),
            f"fail_ratio: {len(self.failed_ops)}/{self.attempted}",
            f"host burn before/after (ms): {m['host.burn_ms_before']:.1f}/{m['host.burn_ms_after']:.1f}",
        ]
        return {"e2e": e2e, "layer": m}


def run_one(args) -> int:
    from workloads import WORKLOADS

    work = os.path.join(OUT_DIR, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate_process_files(work)
    runner = Runner(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    try:
        res = runner.run()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    units = metric_units()
    if args.trace:
        spans = os.path.join(OUT_DIR, "spans", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        runner.tr.write(spans, {"workload": args.workload, "seed": args.seed, "seconds": args.seconds})
        runner.notes.append(f"spans: {os.path.relpath(spans, ROOT)}")
        metrics = res["layer"]
        for k, v in res["e2e"].items():
            runner.notes.append(f"(traced) {k} = {v:.6g} {units[k]}")
    else:
        metrics = res["e2e"]
    for note in runner.notes:
        print(f"# {args.workload}: {note}")
    for k, v in metrics.items():
        print(f"{args.workload:12s} {k:28s} {v:>16.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": not runner.failed_ops,
                "attempted": runner.attempted,
                "failed": len(runner.failed_ops),
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def metric_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def run_all(args) -> int:
    """Every workload in its own process; one combined JSON line."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            return proc.returncode or 1
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    if not os.path.isdir(os.path.join(ROOT, "rasters_jl_spark")):
        print("perfbench: the rasters_jl_spark package is not in this checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
