#!/usr/bin/env python3
"""pipebench: the repository benchmark.

Run from the repository root:

    python3 pipebench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Generates (or reuses) the seeded inputs, starts a Spark session through the
program's ``get_spark``, sets up the workload, runs timed operations for
``--seconds`` and checks every output.  The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it holds the host context.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
OP_TIMEOUT_S = 120
CALIB_STEPS = 1_000_000


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="pipebench: crawl and search benchmark")
    ap.add_argument("--workload", required=True, choices=("crawl", "search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="measuring time per phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="input size (gen.SIZES)")
    ap.add_argument("--cores", default="nproc", help="Spark local cores, or 'nproc'")
    ap.add_argument("--driver-mem", default="3g", help="Spark driver memory")
    ap.add_argument("--work", default=".pipebench_work", help="scratch dir (relative to cwd)")
    ap.add_argument("--cache", default=".pipebench_cache", help="input cache dir")
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


LCG = f"""
x = 0x9E3779B97F4A7C15
for _ in range({CALIB_STEPS}):
    x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
"""


def calibrate(cores: int) -> dict:
    """Fixed work on one core, then on every core at once (one process
    per core): slow host epochs and co-tenant load show as larger times."""
    t0 = time.monotonic()
    exec(LCG, {})
    single = time.monotonic() - t0
    t0 = time.monotonic()
    procs = [subprocess.Popen([sys.executable, "-c", LCG]) for _ in range(cores)]
    for p in procs:
        p.wait()
    return {"single_core_s": round(single, 4), "all_core_s": round(time.monotonic() - t0, 4)}


def host_context(cores: int) -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": nproc(), "loadavg": load, "calib": calibrate(cores)}


def configure_env(args, work: str, cores: int, trace_dir: str | None) -> None:
    """Pin the session settings and keep every file the run writes
    (Spark scratch, the shipped package archive, JVM temp files) under
    the work dir."""
    # shared by runs, so the session's package archive is built once
    tmp = os.path.join(os.path.dirname(work), "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    # applied after the command line, so it wins over the session's
    # -Djava.io.tmpdir; the JVM's perf-counter file would go to /tmp
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    submit = []
    if trace_dir:
        submit = ["--conf", "spark.eventLog.enabled=true",
                  "--conf", f"spark.eventLog.dir=file://{trace_dir}",
                  "--conf", "spark.eventLog.compress=false",
                  "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def run_ops(wl, seconds: float, start: int = 0) -> list:
    """Timed operations until ``seconds`` have passed, in whole blocks of
    ``wl.block`` operations (at least one block).  An operation that
    raises or exceeds OP_TIMEOUT_S counts as failed."""
    ops = []
    t_end = time.monotonic() + seconds
    i = start
    while not ops or len(ops) % wl.block or time.monotonic() < t_end:
        watchdog = threading.Timer(OP_TIMEOUT_S, wl.spark.sparkContext.cancelAllJobs)
        watchdog.start()
        try:
            with wl.tracer.span("op"):
                ops.append(wl.op(i))
        except Exception:
            traceback.print_exc()
            ops.append(None)
        finally:
            watchdog.cancel()
        i += 1
        if sum(o is None for o in ops) >= 3:
            break
    return ops


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup_s: float, ops: list) -> dict:
    good = [o for o in ops if o is not None]
    wall = sum(o.wall_s for o in good)
    steps = [s for o in good for s in o.steps]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "items_per_s": {"value": sum(o.items for o in good) / wall if wall else 0.0,
                        "unit": "item/s"},
        "step_p50_ms": {"value": median(steps) * 1000, "unit": "ms"},
    }


def measure(args, spark, data: str, work: str, trace_dir: str | None, cores: int,
            session_s: float):
    """Set up the workload, run its timed operations and compute the
    metrics; returns (metrics, set-up ops, timed ops, session_s,
    prepare_s)."""
    import spans as tr
    import workloads

    tracer = (tr.Tracer(spark.sparkContext, f"{args.workload}-s{args.seed}")
              if args.trace else tr.NullTracer())
    wl = workloads.WORKLOADS[args.workload](spark, data, os.path.join(work, "state"), tracer)
    t0 = time.monotonic()
    wl.prepare()
    prepare_s = time.monotonic() - t0
    with tracer.untraced():
        setup_ops = wl.setup_ops()
    if not args.trace:
        ops = run_ops(wl, args.seconds)
        return end_to_end(session_s + prepare_s, ops), setup_ops, ops, session_s, prepare_s

    import layers

    # the measuring time is split: untraced operations first, then the
    # same operations traced
    wl.tracer = tr.NullTracer()
    ops = run_ops(wl, args.seconds / 2)
    wl.tracer = tracer
    traced_ops = run_ops(wl, args.seconds / 2, start=len(ops))
    counts, layer_ops = layers.reinvoke(wl, tracer)
    spark.stop()  # flushes the event log
    metrics = layers.per_layer(wl, tracer, tr.read_event_log(trace_dir), counts,
                               setup_ops, ops, traced_ops, session_s, cores)
    with open(os.path.join(work, "spans.json"), "w") as f:
        json.dump({"spans": tracer.spans, "metrics": metrics}, f)
    return metrics, setup_ops, ops + traced_ops + layer_ops, session_s, prepare_s


def stop_jvm() -> None:
    """End the JVM the session started (it exits when its stdin closes)
    and wait for it; its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "distributed_crawler_spark", "__init__.py")):
        print("pipebench: run from the repository root (distributed_crawler_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    cores = nproc() if args.cores == "nproc" else int(args.cores)
    work = os.path.abspath(os.path.join(args.work, f"{args.workload}-s{args.seed}-t{args.trace}"))
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(trace_dir or work, exist_ok=True)
    configure_env(args, work, cores, trace_dir)

    import gen

    data = gen.generate(args.seed, args.size, os.path.abspath(args.cache))
    host_before = host_context(cores)

    t_proc = time.monotonic()
    from distributed_crawler_spark.session import get_spark

    spark = get_spark(app_name="pipebench")
    try:
        metrics, setup_ops, all_ops, session_s, prepare_s = measure(
            args, spark, data, work, trace_dir, cores, time.monotonic() - t_proc)
    finally:
        spark.stop()
        stop_jvm()
    all_ops = setup_ops + all_ops
    failed = sum(o is None or not o.ok for o in all_ops)
    host = {"host_before": host_before, "host_after": host_context(cores),
            "session": {"cores": cores, "driver_mem": args.driver_mem,
                        "local_dirs": os.environ["SPARK_LOCAL_DIRS"]},
            "setup": {"session_s": session_s, "prepare_s": prepare_s}}
    result = {"correct": failed == 0, "attempted": len(all_ops), "failed": failed,
              "metrics": metrics}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"host": host, "result": result,
                   "ops": [None if o is None else vars(o) for o in all_ops]}, f)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
