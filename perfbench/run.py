"""Benchmark entry point.

    python3 perfbench/run.py --workload query-local --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one JSON line of host context, then,
as the last line, the result: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the run's spans are written
to .perfbench_out/. Exits non-zero without a result when the engine
cannot be imported or a Spark JVM from an earlier run is still alive.
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
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

E2E_UNITS = {
    "p50_ms": "ms", "ops_per_s": "1/s", "setup_s": "s",
    "build_files_per_s": "1/s", "index_bytes_per_input_byte": "ratio",
    "driver_rss_mb": "MB",
}


def start_spark(work: str, cores: int, traced: bool):
    """A local Spark whose scratch files, JVM temp files and Python workers
    all stay inside `work`."""
    from lucene_solr_1_spark.session import get_spark

    from perfbench.measure import APP_NAME

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers are forked from the JVM and import the engine by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return get_spark(
        APP_NAME, master=f"local[{cores}]", shuffle_partitions=2 * cores,
        extra={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            # the status REST API serves executor time and shuffle bytes
            "spark.ui.enabled": "true" if traced else "false",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python worker)
    has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    # a later start in this process must launch a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 work: str, **sizes):
    """Run one workload in an already started Spark; returns the Run."""
    from perfbench import measure, workloads

    cfg = workloads.Config(seed=seed, seconds=seconds, trace=trace, work=work,
                           segments=measure.nproc(), **sizes)
    run = workloads.Run(cfg, spark, measure.Tracer(trace),
                        measure.SparkOps(spark, f"{name}-{seed}", trace))
    workloads.WORKLOADS[name](run)
    run.e2e["driver_rss_mb"] = measure.peak_rss_mb()
    return run


def result_line(run, trace: bool) -> dict:
    from perfbench import layers, measure

    if trace:
        metrics = {n: measure.metric(run.layer[n], u) for n, u in layers.LAYER_METRICS}
    else:
        metrics = {n: measure.metric(run.e2e[n], u) for n, u in E2E_UNITS.items()}
    measure.check_metric_names(metrics)
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["query-local", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        import lucene_solr_1_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import measure

    stale = measure.live_benchmark_jvms()
    if stale:
        print(f"perfbench: Spark JVMs from an earlier run are alive: {stale}",
              file=sys.stderr)
        return 3
    host = measure.host_context()
    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, host["nproc"], bool(args.trace))
        spark.sparkContext.setLogLevel("ERROR")
        host["spark_start_s"] = time.perf_counter() - t0
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        run = run_workload(spark, args.workload, args.seed, args.seconds,
                           bool(args.trace), work)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_after"] = measure.loadavg()
    if args.trace:
        run.tracer.write(os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
    tail = measure.tail(run.latencies)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": host, "samples": len(run.latencies),
            "tail": tail and {"q": tail[0], "ms": tail[1] * 1000},
            "window_s": run.window_s, "phases_s": run.phases, "problems": run.problems[:20]}
    if not args.trace:
        info["end_to_end"] = run.e2e
    print(json.dumps(info))
    print(json.dumps(result_line(run, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
