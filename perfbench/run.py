"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload kg_refresh --seed 1 --seconds 5 --trace 0

Run from the repository root. The runner builds the workload's inputs
from ``--seed``, starts a ``local[nproc]`` Spark session, warms up, then
runs the workload's job back to back until ``--seconds`` have passed
(at least once) and checks every job's outputs. Human-readable report
lines go to stdout first; the last stdout line is the result object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` alternates untraced and traced jobs and reports the
per-layer metrics of the traced ones (median over traced jobs), with
the tracing overhead. Every scratch file lives under
``.perfbench_tmp/`` in the repository root and is deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.trace import Stopwatch, Tracer, proc_status_mb  # noqa: E402


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def sandbox_env(tmp: str, cores: int) -> None:
    """Environment every Spark process of the run inherits. Must be set
    before the JVM starts: workers import the package from PYTHONPATH,
    and all scratch space stays under ``tmp``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the session default (48g) exceeds small hosts; the inputs are small
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1024, min(2048, host_memory_mb() // 4))}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM of the run (the launcher and the Spark driver): temp
    # files under tmp, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)


def calibration(spark) -> dict:
    """Host-phase probe: Spark-driver sgemm GFLOP/s and JVM aggregation
    throughput, best of three each (same pair as ``bench.calibration``,
    at a size that costs about a second)."""
    import numpy as np
    from pyspark.sql import functions as F

    n = 512
    rng = np.random.default_rng(7)
    a = rng.standard_normal((n, n), dtype=np.float32)
    b = rng.standard_normal((n, n), dtype=np.float32)
    (a @ b).sum()

    def best(fn) -> float:
        out = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t0)
        return min(out)

    rows = 10_000_000
    job = lambda: spark.range(rows).agg(F.bit_xor(F.xxhash64("id"))).collect()  # noqa: E731
    job()
    return {
        "numpy_sgemm_gflops": 2.0 * n**3 / best(lambda: (a @ b).sum()) / 1e9,
        "jvm_agg_mrows_per_s": rows / best(job) / 1e6,
    }


@dataclass
class Context:
    spark: object
    seed: int
    cores: int
    tmp: str
    tracer: Tracer
    job_walls: list[float] = field(default_factory=list)
    job_peak_rss: list[float] = field(default_factory=list)
    job_rss_rises: list[float] = field(default_factory=list)
    traced_walls: list[float] = field(default_factory=list)
    outs: list[dict] = field(default_factory=list)
    last_out: dict | None = None
    setup_layers: dict[str, float] = field(default_factory=dict)


def start_session(cores: int):
    from bertseyeview_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit; ``spark`` is None when the run was stopped while the
    session was starting."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a stuck JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_job(wl, ctx) -> Stopwatch:
    """One job plus its output checks; an exception that escapes the
    job's own counted calls is a failed operation too."""
    watch = Stopwatch()
    try:
        out = wl.job(ctx, watch)
    except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
        print(f"job raised: {exc!r}", file=sys.stderr)
        ctx.tracer.attempted += 1
        ctx.tracer.check(False, f"job raised {exc!r}")
        return watch
    ctx.last_out = out
    ctx.outs.append(out)
    try:
        wl.check(ctx, out)
    except Exception as exc:  # noqa: BLE001
        print(f"check raised: {exc!r}", file=sys.stderr)
        ctx.tracer.check(False, f"check raised {exc!r}")
    return watch


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bertseyeview_spark")):
        print(f"no bertseyeview_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS  # imports the package

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the finally below, which stops the JVM
    # and deletes the scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    sandbox_env(tmp, cores)
    cwd = os.getcwd()
    os.chdir(tmp)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cores)
        session_s = time.perf_counter() - t0
        import pyspark
        import pyarrow

        host = {
            "nproc": cores,
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            **calibration(spark),
        }
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        ctx = Context(spark, args.seed, cores, tmp, Tracer(spark, enabled=False, cores=cores))
        wl = WORKLOADS[args.workload]()
        # set-up: session start once, input generation + load three
        # times (median), one untimed warmup
        loads = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            wl.load(ctx)
            loads.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup(ctx)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(loads) + warm_s

        layer_runs: list[dict] = []
        t_end = time.perf_counter() + args.seconds
        while True:
            ctx.tracer.enabled = False
            watch = run_job(wl, ctx)
            ctx.job_walls.append(watch.total)
            ctx.job_peak_rss.append(watch.peak_rss_mb)
            ctx.job_rss_rises.append(watch.rss_rise_mb)
            if args.trace:
                ctx.tracer.enabled = True
                ctx.tracer.job += 1
                with ctx.tracer.wrapped(wl.inner_spans()):
                    ctx.traced_walls.append(run_job(wl, ctx).total)
                    extras = wl.traced_extras(ctx)
                layer_runs.append({**ctx.tracer.layer_metrics(ctx.tracer.job), **extras})
                ctx.tracer.enabled = False
            if time.perf_counter() >= t_end:
                break

        wall_s = statistics.median(ctx.job_walls)
        t = ctx.tracer
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "jobs": len(ctx.job_walls),
            "job_walls_s": ctx.job_walls,
            "wall_s": wall_s,
            "setup_s": setup_s,
            "setup_parts_s": {"session": session_s, "load": loads, "warmup": warm_s},
            "failed_ops_frac": t.failed / max(t.attempted, 1),
            "failed_checks": t.failed_checks,
            **wl.summary(ctx, wall_s),
            "job_peak_rss_mb": ctx.job_peak_rss,
            "job_rss_rise_mb": ctx.job_rss_rises,
            "jvm_hwm_mb": proc_status_mb(jvm_pid, "VmHWM"),
            "host": host,
        }
        if args.trace:
            names = sorted({k for r in layer_runs for k in r})
            report["layers"] = {k: statistics.median(r.get(k, 0.0) for r in layer_runs) for k in names}
            metrics = {}
            for name, unit, _ in PER_LAYER:
                vals = [r.get(name, 0.0) for r in layer_runs]
                metrics[name] = {"value": statistics.median(vals), "unit": unit}
            metrics["session.get_spark.s"]["value"] = session_s
            for name, value in ctx.setup_layers.items():
                metrics[name]["value"] = value
            metrics["driver.rss_rise_mb"]["value"] = statistics.median(ctx.job_rss_rises)
            metrics["trace.overhead_s"]["value"] = (
                statistics.median(ctx.traced_walls) - statistics.median(ctx.job_walls)
            )
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            t.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"),
                   {"report": report, "metrics": metrics})
        else:
            # peak RSS of this process, the Spark driver's Python side,
            # where the package's Spark-driver collects and broadcasts land
            # (toPandas of CSR postings, the alias map), over the timed
            # sections only: set-up and the untimed checks do not count,
            # the import baseline does. The JVM's own peak (jvm_hwm_mb
            # above) follows G1 heap sizing and spreads 15-27% between
            # runs of the same work, too wide to gate.
            metrics = {
                "wall_s": {"value": wall_s, "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mb": {"value": statistics.median(ctx.job_peak_rss), "unit": "MB"},
            }
        report["metrics"] = {k: v["value"] for k, v in metrics.items() if v["value"]}
        print(json.dumps(report, default=str))
        result = {
            "correct": not t.failed_checks,
            "attempted": t.attempted,
            "failed": t.failed,
            "metrics": metrics,
        }
    finally:
        stop_session(spark)
        os.chdir(cwd)
        for _ in range(3):  # exiting workers can still be removing files
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(tmp):
                break
            time.sleep(1)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
