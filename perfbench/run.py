#!/usr/bin/env python3
"""Medallion lakehouse benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
before any clock starts; the engine only ever sees the generated files.
Every run checks the engine's outputs outside the timed window and fails
(non-zero exit) on any mismatch. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Earlier lines carry diagnostics (host calibration, sample
counts). See ``perfbench/README.md`` for workloads, metrics and layers.

Everything the run writes stays under ``.bench_work/`` (removed at exit)
and ``.bench_out/`` (trace files) in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "cryptopulse_real_time_arbitrage_detection_lakehouse_spark"
sys.path[:0] = [str(HERE), str(ROOT)]

import common  # noqa: E402
from tracing import Tracer  # noqa: E402


class Ctx:
    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = Tracer()
        self.spark = None


def _workloads() -> dict:
    from dashboard_mix import DashboardMix
    from trickle import Trickle

    return {w.name: w for w in (Trickle, DashboardMix)}


def _pin_environment(work: str) -> None:
    """Pinned defaults (BENCHMARK.json's command sets them too): worker
    threads never above the core count and as many GC threads, a driver
    heap that fits small hosts, and every temporary file inside the run's
    work directory."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "2"))
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, min(cpus, os.cpu_count() or 1)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "local")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var])
    # every JVM spark-submit starts, its launcher included: temp files in
    # the work dir, no perf-data files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
        f"-XX:ParallelGCThreads={os.environ['SPARK_GRAFT_CPUS']}")


def _start_spark(work: str):
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads)}", file=sys.stderr)
        return 2

    work = str(ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, workloads[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workload_cls, work: str) -> int:
    _pin_environment(work)
    ctx = Ctx(args, work)
    wl = workload_cls(ctx)
    calib_before = common.calibrate()

    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    # setup: imports, session, warm-up and fixture builds
    t = time.perf_counter()
    ctx.spark = _start_spark(work)
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        # process start to the first timed operation, less the input
        # generation and the host calibration
        setup_s = time.perf_counter() - T_START - gen_s - calib_before
        # a traced run measures one untraced window, then one traced
        # window of the same length; the difference is tracing overhead
        m = common.Measured()
        wl.measure(m)
        if ctx.traced:
            ctx.tracer.activate()
            wl.measure(m)
        wl.finish()
        layers = _layer_metrics(ctx, wl, m) if ctx.traced else {}
        try:
            wl.check()
            correct = True
        except common.CheckFailed as e:
            print(f"output check failed: {e}", file=sys.stderr)
            correct = False
        jvm_rss = _jvm_peak_rss_mb(ctx.spark)
    finally:
        _stop_spark(ctx.spark)
    calib_after = common.calibrate()

    lat = m.latencies()
    diag = {
        "workload": args.workload, "seed": args.seed, "samples": len(lat),
        "ops": m.ops, "host.calib_s": calib_before, "host.calib_after_s": calib_after,
        "gen.input_s": gen_s, "session.start_s": session_s,
        "prepare_s": prepare_s, "run_wall_s": time.perf_counter() - T_START,
    }
    print("diagnostics " + json.dumps(diag), flush=True)
    if ctx.traced:
        metrics = dict(layers)
        metrics.update({
            "session.start_s": session_s,
            "host.calib_s": calib_before,
            "host.calib_after_s": calib_after,
            "gen.input_s": gen_s,
            "jvm.peak_rss_mb": jvm_rss,
            "py.peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        })
        units = _per_layer_units()
        out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
        _write_trace(ctx, args, metrics)
    else:
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "latency_s": {"value": wl.latency(lat), "unit": "s"},
            "ops_per_s": {"value": m.ops_per_s(), "unit": "1/s"},
        }
    result = {"correct": correct and m.failed == 0, "attempted": m.attempted,
              "failed": m.failed, "metrics": out}
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def _layer_metrics(ctx: Ctx, wl, m: common.Measured) -> dict[str, float]:
    """Every per-layer metric; layers the workload does not reach read 0."""
    metrics = {name: 0.0 for name in _per_layer_units()}
    metrics.update(wl.layer_metrics())
    traced, untraced = m.latencies(True), m.latencies(False)
    if traced and untraced:
        metrics["trace.overhead_s"] = wl.latency(traced) - wl.latency(untraced)
    metrics["trace.spans"] = len(ctx.tracer.spans)
    return metrics


def _write_trace(ctx: Ctx, args, metrics: dict) -> None:
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    ctx.tracer.dump(
        str(out_dir / f"trace-{args.workload}-seed{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed, "metrics": metrics},
    )


def _per_layer_units() -> dict[str, str]:
    """Unit of every per-layer metric, as BENCHMARK.json lists them."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}

if __name__ == "__main__":
    sys.exit(main())
