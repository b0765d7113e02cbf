#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository: the engine package
``etl_adsbx_spark`` is imported from the current directory, and every file
the run writes stays under ``.perfbench_work/`` there. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). A fuller record (box, calibration rows,
sample counts and, for traced runs, the spans) goes to
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import harness  # noqa: E402


def _spec() -> dict:
    """Workload and metric names and units: BENCHMARK.json is the one list."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare_env(work: str) -> None:
    """Settings applied before Spark starts. Every one is an override the
    engine documents; a value already in the environment wins."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    # The engine sizes the driver heap from the host and pre-touches it at
    # start. The benchmark shares its machine, so it pins a small heap.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_XMS", "1g")
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the JVMs' own scratch (unpacked native libraries, perf data) would
    # otherwise land in /tmp, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "")
                                       + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()


def _stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited (it exits
    once its stdin closes; Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            gw.shutdown()
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(args, spec: dict) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_adsbx_spark", "__init__.py")):
        print("perfbench: run from the repository root (etl_adsbx_spark/ not found "
              "in the current directory)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    t_proc = harness.process_start_wall()
    wl = importlib.import_module(f"perfbench.{args.workload}")
    import_s = time.time() - t_proc

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    ctx = types.SimpleNamespace(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work,
                                tracer=harness.Tracer(), notes={}, ops=[])
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "calibration_before": harness.calibrate()}
    spark = None
    try:
        wl.generate(ctx)  # inputs: outside set-up and outside the timer
        _prepare_env(work)
        ctx.cores = int(os.environ["SPARK_GRAFT_CPUS"])

        t0 = time.time()
        from etl_adsbx_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        get_spark_s = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.counters = harness.SparkCounters(spark)
        ctx.rss = harness.PeakRss(spark._jvm.java.lang.ProcessHandle.current().pid())
        wl.warmup(ctx)
        setup_s = import_s + (time.time() - t0)
        record["box"] = harness.box_info()
        ctx.rss.sample()

        wl.measure(ctx, args.seconds)
        ctx.rss.sample()
        heap_mb = ctx.counters.heap_committed_mb()
        attempted, failed = wl.check(ctx)  # outside the timer
        if args.trace:
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = dict.fromkeys(units, 0.0)
            metrics.update({"session.get_spark_s": get_spark_s,
                            "session.heap_committed_mb": heap_mb})
            metrics.update(wl.per_layer(ctx))
            record["self_time_s"] = ctx.tracer.self_times()
            record["spans"] = ctx.tracer.spans
            record["end_to_end_traced"] = wl.end_to_end(ctx)
        else:
            metrics = {"setup_s": setup_s, "peak_rss_mb": ctx.rss.mb()}
            metrics.update(wl.end_to_end(ctx))
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    finally:
        if hasattr(wl, "teardown"):
            wl.teardown(ctx)
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    record.update(notes=ctx.notes, calibration_after=harness.calibrate(),
                  errors=[o.get("error") for o in ctx.ops if o.get("error")][:20])
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    record["result"] = result
    out = os.path.join(root, ".perfbench_work", "results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, default=str)
    print(json.dumps({k: record[k] for k in ("box", "calibration_before",
                                             "calibration_after", "notes")}, default=str))
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its files (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    spec = _spec()
    p.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv), spec)


if __name__ == "__main__":
    sys.exit(main())
