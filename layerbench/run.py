"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 layerbench/run.py --workload {ingest,search,refresh} --seed N \
        --seconds S --trace {0,1}

BENCHMARK.json lists ``ingest`` and ``search``; ``refresh`` runs by hand
(see README.md).

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
(``setup_s``, ``round_s``, ``index_bytes_per_text_byte``) of every workload;
``--trace 1`` records spans and Spark counters, prints every per-layer metric
of ``workloads.LAYER_METRICS`` and writes the spans to ``.bench_out/``.
Indexes and Spark scratch files live under ``.bench_work/``, which is removed
when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def make_spark(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("layerbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "search", "refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if HERE in sys.path:
        sys.path.remove(HERE)
    sys.path.insert(0, ROOT)
    try:
        import lucene_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"layerbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    from layerbench import workloads
    from layerbench.spans import NullTracer, Tracer

    work = os.path.join(os.getcwd(), ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    warnings.filterwarnings("ignore", category=UserWarning, module="pyspark")
    t_start = time.perf_counter()
    spark = make_spark(work)
    print(f"spark_up_s {time.perf_counter() - t_start:.2f}", file=sys.stderr)
    try:
        tracer = Tracer() if args.trace else NullTracer()
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer)
        e2e, kernel_fn = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            tracer.attach_jobs(spark)
            values = workloads.layer_metrics(run)
            values.update({k: v for k, (v, _) in kernel_fn().items()})
            values["spark.empty_job_ms"] = workloads.empty_job_ms(spark)
            metrics = {k: (values[k], u) for k, u in workloads.LAYER_METRICS}
            out_dir = os.path.join(os.getcwd(), ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            print("traced end-to-end: " + json.dumps({k: v[0] for k, v in e2e.items()}),
                  file=sys.stderr)
        else:
            metrics = e2e
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"teardown_s {time.perf_counter() - t_stop:.2f}", file=sys.stderr)
    print(f"wall_s {time.perf_counter() - t_start:.2f}", file=sys.stderr)
    print(json.dumps({
        "correct": run.wrong == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
