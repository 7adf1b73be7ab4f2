#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from the
seed, runs it against ``kinesis_sample_spark`` for at least ``S`` seconds
of whole passes, checks the outputs, and prints one JSON object as the last
line of stdout: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Everything it writes goes under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from tracing import Tracer, process_tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def configure(work: str) -> None:
    """Size Spark from the machine and confine it to the work directory.

    One task slot per usable core and a quarter of physical memory as the
    driver heap (the program's own defaults assume a 32-core, 48 GB box).
    Every scratch location of Python, Spark and the JVM points into
    ``work``, and the time zone is pinned to UTC, which the oracle
    comparison assumes."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    heap = f"{mem_kb // 4 // 1024}m"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=heap,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
    )
    time.tzset()
    print(f"[perfbench] SPARK_GRAFT_CPUS={cpus} SPARK_DRIVER_MEMORY={heap}", flush=True)


def shutdown() -> None:
    """Stop Spark, end the JVM and wait for it, and kill anything this
    process started that is still running."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def main() -> int:
    # the declared workloads and metrics, with their units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure(work)
    sys.path.append(ROOT)
    try:
        import workloads

        tracer = Tracer(enabled=bool(args.trace))
        ctx = workloads.Context(work, args.seed, args.seconds, tracer)
        try:
            result = workloads.WORKLOADS[args.workload](ctx)
        finally:
            shutdown()
        if args.trace:
            tracer.dump(os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {m["name"]: {"value": result.layers.get(m["name"], 0), "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": result.e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    print(
        json.dumps(
            {"correct": result.failed == 0, "attempted": result.attempted, "failed": result.failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
