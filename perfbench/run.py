"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

prints progress on stderr and, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. Run it from the root of a checkout; it builds the shim jar on
first use and keeps every file it writes under ``.perfbench/`` there.

    python3 perfbench/run.py --workload ingest --steady 5 --seconds 10

runs one workload five times (seeds 1..5), each in a fresh process, and
prints every metric's median, quartiles and quartile spread.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "ingest")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and pin the time zone the answers are compared in."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = max(1, (os.cpu_count() or 2) - 1)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(cores),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = None


def start_spark(cores: int):
    """``get_spark`` plus ``shim_builder_confs()``, so plain ``spark.sql``
    reaches the Catalyst rule; ``local[cores]`` with as many shuffle
    partitions."""
    from pyspark.sql import SparkSession

    from datafusion_uwheel_spark import get_spark
    from datafusion_uwheel_spark.jvmshim import shim_builder_confs

    confs = shim_builder_confs()
    plain = SparkSession.Builder.getOrCreate

    def with_shim(builder):
        for k, v in confs.items():
            if k != "spark.driver.extraClassPath":  # get_spark appends the jar itself
                builder.config(k, v)
        return plain(builder)

    SparkSession.Builder.getOrCreate = with_shim
    try:
        spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    finally:
        SparkSession.Builder.getOrCreate = plain
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def run_once(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import datafusion_uwheel_spark
    except ImportError as e:
        log(f"the package is not importable from {ROOT}: {e}")
        return 2
    if not os.path.abspath(datafusion_uwheel_spark.__file__).startswith(ROOT + os.sep):
        log(f"imported {datafusion_uwheel_spark.__file__}, not the checkout's package")
        return 2
    workdir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    prepare_env(workdir)
    from perfbench import harness

    t0 = time.perf_counter()
    spark = start_spark(int(os.environ["SPARK_GRAFT_CPUS"]))
    log(f"Spark session up in {time.perf_counter() - t0:.1f}s")
    try:
        run = harness.Run(spark, workdir, args.workload, args.seed, args.seconds,
                          bool(args.trace))
        try:
            result = run.execute()
        finally:
            for why in run.failures[:20]:
                log(f"FAIL {why}")
        if run.tracer is not None:
            path = os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl")
            run.tracer.write(path)
            log(f"{len(run.tracer.spans)} spans written to {path}")
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        log(f"Spark stopped in {time.perf_counter() - t0:.1f}s")
    print(json.dumps(result))
    return 0


def steady(args) -> int:
    """Run one workload ``k`` times in fresh processes and print each
    metric's median, quartiles and (q3 - q1) / median."""
    values: dict[str, list[float]] = {}
    for seed in range(1, args.steady + 1):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        log(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
            f"failed={res['failed']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / q2 if q2 else float("nan")
        print(f"{k:44s} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.3f}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0, metavar="K",
                   help="run the workload K times (seeds 1..K) and print spreads")
    args = p.parse_args(argv)
    return steady(args) if args.steady else run_once(args)


if __name__ == "__main__":
    sys.exit(main())
