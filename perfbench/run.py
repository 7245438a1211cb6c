"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 27 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed under ``.perfbench/`` in the checkout, runs the engine on
``local[<cores>]``, checks its outputs, and prints one JSON object as the
last line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, from
a traced run whose spans are written to ``.perfbench/``. A layer the
workload does not exercise reads 0.

Exits with status 2, printing no result, when the checkout does not hold
the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS, Run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pythonvectordb_spark
    except ImportError as e:
        print(f"perfbench: the engine is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pythonvectordb_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the engine from outside {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)

    from perfbench.trace import StageCollector, Tracer
    from pythonvectordb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        run = Run(
            spark=spark,
            work=work,
            seed=args.seed,
            seconds=args.seconds,
            cores=cores(),
            tracer=Tracer(spark, bool(args.trace)),
            collector=StageCollector(spark),
            session_s=session_s,
        )
        WORKLOADS[args.workload](run)
    finally:
        stop(spark)
    if args.trace:
        run.tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    source = run.layer if args.trace else run.e2e
    unknown = set(source) - {m["name"] for m in spec[section]}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in spec[section]:
        if args.trace:
            value = float(source.get(m["name"], 0.0))  # a layer this workload leaves idle
        else:
            value = float(source[m["name"]])
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    # the checkout root replaces this script's own directory on the path,
    # so the benchmark's modules import as ``perfbench.*`` and never shadow
    # a standard module such as ``trace``
    sys.path[0] = ROOT
    sys.exit(main())
