#!/usr/bin/env python3
"""Run one workload of the benchmark once and print its result.

    python3 perfbench/run.py --workload causal_stream --seed 1 --seconds 30 --trace 0

Generates the input tables from ``--seed``, sets the engine up in a
fresh JVM (timed as ``setup_s``), measures the workload, checks
its outputs against the DuckDB oracles, stops Spark, and prints one JSON
object as the last line of stdout: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end ones
of BENCHMARK.json, with ``--trace 1`` the per-layer ones. The full record
(host stamps, every metric, spans when traced) is written under
``.bench_work/results/``. Exits 2 without a result when the engine's
sources are not beside this directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "distributed_causal_stream_processing_spark"
SPEC = os.path.join(ROOT, "BENCHMARK.json")
SF = 0.01  # generated-table scale factor: lineitem has 60,000 rows


def _host_memory_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 4.0


def _configure_env(work: str) -> dict:
    """Environment of this process and of the JVM and Python workers it
    starts: host-true parallelism and heap, UTC, and every temporary
    file inside the work directory."""
    nproc = len(os.sched_getaffinity(0))
    mem_gb = max(1, min(3, int(_host_memory_gb() // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        # applyInPandasWithState prints a pandas FutureWarning per task
        PYTHONWARNINGS="ignore::FutureWarning",
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
    )
    time.tzset()
    return {"nproc": nproc, "driver_memory": f"{mem_gb}g", "tmp": tmp}


def _source_digest() -> str:
    """sha256 over the engine's sources, which identifies the code when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def _stamps(spark, env: dict, sf: float) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": env["nproc"],
        "os_cpu_count": os.cpu_count(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": _git_commit(),
        "source_digest": _source_digest(),
        "sf": sf,
    }


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(SPEC):
        print(f"error: {PACKAGE}/ and BENCHMARK.json must sit beside {BENCH_DIR}", file=sys.stderr)
        return 2
    with open(SPEC) as fh:
        spec = json.load(fh)
    metric_specs = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]} | {"sql_contract"}:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = _configure_env(work)
    for p in (ROOT, BENCH_DIR):
        if p not in sys.path:
            sys.path.insert(0, p)

    import datagen
    from tracing import Tracer
    from workloads import WORKLOADS, Run, host_ticks, steal_free, steal_share

    from distributed_causal_stream_processing_spark import all_queries, benchlib
    from distributed_causal_stream_processing_spark.session import get_spark

    data_dir = os.path.join(work, "data")
    datagen.generate(data_dir, args.seed, args.sf)
    workload = WORKLOADS[args.workload]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['tmp']}",
    }
    queries = all_queries()
    run = Run(queries, data_dir, work, args.seconds, Tracer(bool(args.trace)))
    spark = None
    try:
        # set-up: a fresh JVM and session, its warm-up, the workload's staging
        ticks = host_ticks()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        run.spark = run.tracer.spark = spark
        benchlib.warm_session(spark, queries, data_dir)
        t2 = time.perf_counter()
        workload.prepare(run)
        raw_setup_s = time.perf_counter() - t0
        setup_s = steal_free(raw_setup_s, ticks)
        run.layer["session.start_s"] = t1 - t0
        run.layer["session.warm_s"] = t2 - t1
        stamps = _stamps(spark, env, args.sf)
        print(f"perfbench stamps: {json.dumps(stamps)}", file=sys.stderr)
        ticks = host_ticks()
        e2e = workload.measure(run)
        run.layer["host.steal_share"] = steal_share(ticks)
        e2e["setup_s"] = setup_s
        e2e["raw_setup_s"] = raw_setup_s
        run.layer["jvm.peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            _stop_spark(spark)
    run.verify()

    layer = dict(run.layer)
    layer["trace.wall_s"] = e2e["wall_s"]
    layer["trace.overhead_s"] = run.tracer.overhead_s
    source = layer if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in metric_specs
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "stamps": stamps,
        "attempted": run.attempted,
        "failed": run.failed,
        "error_rate": run.failed / max(1, run.attempted),
        "problems": run.problems,
        "end_to_end": e2e,
        "per_layer": layer,
        "timings": run.timings,
        "stream_progress": [json.loads(p.json) if hasattr(p, "json") else p for p in run.progress],
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    run.tracer.write(stem + ".spans.json")
    shutil.rmtree(work, ignore_errors=True)
    for p in run.problems:
        print(f"perfbench failure: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
