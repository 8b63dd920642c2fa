#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload mix_fresh --seed 1 --seconds 10 --trace 0

Builds the workload's input from ``--seed``, starts Spark on
``local[<cores>]``, warms up, repeats the workload's pass for
``--seconds`` seconds, checks the outputs, and prints one JSON object as
the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` every other pass runs under spans and the metrics are the
per-layer ones (spans go to ``.perfbench_out/``). Every file the run
writes stays under the checkout; scratch data is removed at exit. A
wrong output makes the command exit with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric_units(section: str) -> dict[str, str]:
    """Name -> unit of every metric in one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def start_spark(work: str, cores: int):
    """A local session whose scratch space all lies under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no JVM perf-data files under /tmp, from the launcher or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gb = int(max(1, min(4, mem_gb // 4)))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_gb}g")
        # A run's JVM lives about a minute and never reaches C2 steady
        # state: C2 keeps compiling in the background and its CPU lands
        # in the timed passes. The JIT is capped at C1 with its compile
        # thresholds scaled down, so that compilation settles during the
        # warm-up (the larger code cache keeps C1 from filling it and
        # switching the compiler off), and the heap starts at full size
        # so that it does not grow during the timed passes.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{driver_gb}g"
            " -XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.01"
            " -XX:ReservedCodeCacheSize=256m",
        )
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, its JVM and the Python workers, and wait for
    every one of them to end."""
    from perfbench.tracing import descendant_pids

    gateway = spark.sparkContext._gateway
    kids = descendant_pids()
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any wait failure -> kill
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in kids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import service1_text_extraction_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench import tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t_start = t = time.perf_counter()
        spark = start_spark(work, cores)
        spark_s = time.perf_counter() - t
        tracer = tracing.Tracer(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, work, args.seed, cores, tracer)
        run.layer["setup.spark_s"] = spark_s
        wl = workloads.WORKLOADS[args.workload](run)
        wl.setup()
        # CPU seconds of the whole process tree, like pass_cpu_s: wall
        # time here would count the time the machine gave to others
        setup_s = tracing.tree_cpu_s()
        setup_wall_s = time.perf_counter() - t_start

        cpu = []

        def one_pass(i):
            tracer.enabled = bool(args.trace) and i % 2 == 1
            c = tracing.tree_cpu_s()
            dt = wl.one_pass(i)
            cpu.append(tracing.tree_cpu_s() - c)
            return dt

        times = workloads.timed_loop(
            args.seconds, one_pass, min_passes=2 if args.trace else 1
        )
        tracer.enabled = bool(args.trace)
        rss_mb = tracing.py_worker_peak_rss_mb()
        step = 2 if args.trace else 1  # untraced passes only
        plain = times[0::step]
        traced = times[1::2]
        run.figures["pass_s"] = statistics.median(plain)
        run.figures["pass_cpu_s"] = statistics.median(cpu[0::step])
        if args.trace:
            wl.trace_layers(statistics.median(traced))
        t = time.perf_counter()
        problems = wl.verify()
        verify_s = time.perf_counter() - t
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    fig = run.figures
    print(
        f"{args.workload} seed={args.seed}: {len(times)} passes, wall "
        f"{[round(x, 3) for x in times]} s, cpu {[round(x, 2) for x in cpu]} s"
    )
    phases = ", ".join(
        f"{k} {v:.1f} s"
        for k, v in run.layer.items()
        if k.startswith(("setup.", "datagen."))
    )
    print(
        f"  set-up {setup_wall_s:.1f} s wall, {setup_s:.1f} s cpu ({phases});"
        f" gate {verify_s:.1f} s"
    )
    for name, v in sorted(fig.items()):
        print(f"  {name:24} {v:.6g}")
    for p in problems:
        print(f"  WRONG OUTPUT: {p}")

    if args.trace:
        units = metric_units("per_layer")
        got = {**run.layer, **{f"workload.{k}": v for k, v in fig.items()}}
        got["trace.overhead_frac"] = statistics.median(traced) / fig["pass_s"] - 1.0
        layer = {n: got.get(n, 0.0) for n in units}  # 0: layer not called
        tracing.print_report(args.workload, layer, units, cores)
        tracer.write(
            os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "metrics": layer},
        )
        values = layer
    else:
        units = metric_units("end_to_end")
        values = {
            "pass_cpu_s": fig["pass_cpu_s"],
            "setup_s": setup_s,
            "py_worker_peak_rss_mb": rss_mb,
        }
    result = {
        "correct": not problems,
        "attempted": len(times),
        "failed": 0,
        "metrics": {
            n: {"value": float(values[n]), "unit": units[n]} for n in units
        },
    }
    print(json.dumps(result), flush=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
