#!/usr/bin/env python3
"""Seeded benchmark of the spatial-join + tiling engine.

    python3 perfbench/run.py --workload pip_points_rect --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  It generates its inputs from --seed under
.perfbench_work/, starts Spark at local[nproc], sets up (session start,
materialized interleaved table, first cold job) twice, runs one warm-up job, times
fresh jobs for --seconds and checks every output against an independent
reference.  --trace 1 is the separate per-layer run (layers.py).  The last
stdout line is one JSON object {correct, attempted, failed, metrics}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WATCHDOG_S = 170
# Each set-up restarts the SparkContext and pays a cold job (~10 s on pip_any_mixed
# at local[4]); two of them keep a whole run under a minute.
SETUP_REPS = 2
WARMUP_JOBS = 1  # untimed but checked: the first jobs of a fresh session still speed up
MIN_JOBS = 4
DRIVER_HEAP = "2g"

sys.path.insert(0, HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="document-count multiplier (self-tests use a tiny one)")
    ap.add_argument("--tamper", choices=("add", "drop"), help="self-test: corrupt every pip job's output by one row")
    return ap.parse_args(argv)


class Bench:
    """Owns the Spark session, the RSS sampler and every process they start."""

    def __init__(self, args):
        from workloads import SPECS

        if args.workload not in SPECS:
            raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(SPECS)}")
        self.args = args
        self.spec = SPECS[args.workload]
        self.ncpu = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}
        self.t0 = time.perf_counter()

    # --- session lifecycle -----------------------------------------------------
    def _env(self) -> None:
        tmp = os.path.join(WORK, "tmp")
        local = os.path.join(WORK, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        # a fixed, pre-touched driver heap: JVM RSS then no longer depends on when
        # the collector last grew the heap, and peak_rss_mb tracks the Python side
        # and the JVM's off-heap (Arrow) memory
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch" pyspark-shell'
        )
        # every JVM, the spark-submit launcher's too: temp files inside the checkout,
        # and no hsperfdata file (it would go to /tmp whatever java.io.tmpdir says)
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    def session(self):
        """Start the engine's session; the first call also launches the JVM."""
        from gdal_boots_spark.session import get_spark

        self.spark = get_spark("perfbench", master=f"local[{self.ncpu}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from probes import kill_tree

        try:
            from pyspark import SparkContext

            if self.spark is not None:
                self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.terminate()
                    try:
                        proc.wait(timeout=20)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=10)
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            kill_tree(os.getpid())

    # --- accounting ------------------------------------------------------------
    def phase(self, name: str) -> None:
        """Log the elapsed wall at a phase boundary to stderr."""
        print(f"perfbench: {time.perf_counter() - self.t0:7.2f}s {name}", file=sys.stderr, flush=True)

    def check(self, ok: bool) -> bool:
        self.attempted += 1
        self.failed += not ok
        return ok

    def guarded(self, fn):
        """Run one checked operation; an exception counts as a failed attempt."""
        try:
            return self.check(bool(fn()))
        except Exception as e:  # a failing job is a measured outcome, not a crash
            print(f"perfbench: attempt failed: {type(e).__name__}: {str(e)[:400]}", file=sys.stderr)
            return self.check(False)

    def controls(self, spark) -> tuple[float, float]:
        """(cpu_control_s, pandas_control_s): a fixed pure-JVM job and a fixed
        pandas-UDF job, the same-run host yardsticks."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def sq(v):
            return v * v

        t = time.perf_counter()
        spark.range(0, 600_000, 1, self.ncpu).selectExpr("md5(CAST(id AS STRING)) AS h").where("h > 'f'").count()
        cpu = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(0, 300_000, 1, self.ncpu).select(sq(F.col("id").cast("double")).alias("v")).where("v < 0").count()
        return cpu, time.perf_counter() - t

    # --- the untraced run --------------------------------------------------------
    def run(self) -> dict:
        import workloads as wl
        from probes import RssSampler, cpu_times, load1, steal_frac, stray_spark_processes

        a = self.args
        self.info["stray_spark_processes"] = stray_spark_processes()
        self.info["load1_at_start"] = load1()
        for s in self.info["stray_spark_processes"]:
            print(f"perfbench: stray Spark process before start: {s}", file=sys.stderr)
        self._env()
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.phase("start")
        inputs = wl.Inputs(self.spec, a.seed, WORK, a.scale, stages=bool(a.trace))
        self.phase("inputs and references ready")
        cpu0 = cpu_times()
        # peak memory covers set-up and jobs; the host controls run after
        with RssSampler() as self.rss:
            if a.trace:
                import layers

                metrics = layers.traced_run(self, inputs)
            else:
                metrics = self._untraced(inputs)
        self.info["host"] = {"steal_frac": steal_frac(cpu0, cpu_times()), "load1_at_end": load1()}
        self.info["rss_at_peak_mb"] = self.rss.at_peak
        if a.trace:
            metrics["host.steal_frac"] = (self.info["host"]["steal_frac"], "ratio", 1)
            metrics["host.load1"] = (self.info["host"]["load1_at_end"], "load", 1)
        else:
            metrics["peak_rss_mb"] = (self.rss.peak / 2**20, "MB", 1)
        return metrics

    def _untraced(self, inputs) -> dict:
        import workloads as wl
        from probes import median

        a = self.args
        setups = []
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            spark = self.session()
            self.phase(f"setup {rep}: session up")
            docs_path = os.path.join(self.run_dir, f"interleaved-{rep}")
            wl.materialize(spark, inputs, docs_path)
            self.phase(f"setup {rep}: table materialized")
            self.guarded(lambda: wl.run_join_job(spark, inputs, docs_path, a.tamper))
            setups.append(time.perf_counter() - t0)
            # the split refine persists its candidates and never unpersists them: a
            # later build of the same plan would read that cache instead of working
            spark.catalog.clearCache()
            self.phase(f"setup {rep} done ({setups[-1]:.2f}s)")

        for _ in range(WARMUP_JOBS):
            self.guarded(lambda: wl.run_join_job(spark, inputs, docs_path, a.tamper))
            spark.catalog.clearCache()
        walls = []
        deadline = time.perf_counter() + a.seconds
        while time.perf_counter() < deadline or len(walls) < MIN_JOBS:
            t = time.perf_counter()
            self.guarded(lambda: wl.run_join_job(spark, inputs, docs_path, a.tamper))
            walls.append(time.perf_counter() - t)
            spark.catalog.clearCache()
        self.phase(f"timed jobs done ({len(walls)})")
        self.rss.stop()
        ctl = self.controls(spark)
        self.phase("controls done")
        self.info["controls"] = {"host.cpu_control_s": ctl[0], "host.pandas_control_s": ctl[1]}
        self.info["job_walls_s"] = walls
        return {
            "setup_s": (median(setups), "s", len(setups)),
            "docs_per_s": (inputs.n_docs / median(walls), "docs/s", len(walls)),
        }


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark exceeded its {WATCHDOG_S} s budget")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gdal_boots_spark")):
        print(f"perfbench: engine package gdal_boots_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    bench = Bench(args)
    try:
        metrics = bench.run()
    finally:
        signal.alarm(0)
        bench.phase("closing")
        bench.close()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
        bench.phase("closed")
    for name, (value, unit, n) in metrics.items():
        print(f"metric {args.workload} {name} = {value:.6g} {unit} (n={n})")
    fail_ratio = bench.failed / max(bench.attempted, 1)
    print(f"metric {args.workload} fail_ratio = {fail_ratio:.6g} ratio (n={bench.attempted})")
    for name, value in bench.info.get("controls", {}).items():
        print(f"control {args.workload} {name} = {value:.6g} s")
    print(f"host {json.dumps(bench.info)}")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u, _) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
