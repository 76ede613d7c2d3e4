"""SparkSession builder.

Local testing runs a single JVM (``local[N]``), but every config here is
chosen to also be the right call on a large cluster:

- AQE on (runtime partition coalescing, skew-join splitting, join
  re-selection) — at 100 TB the static plan is always wrong somewhere.
- Explicit ``spark.sql.shuffle.partitions`` sized to the parallelism at
  hand (one per core locally; thousands on a real cluster — AQE
  coalesces down).
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are reproducible across clusters.
- Arrow enabled for the (rare, deliberate) Python↔JVM crossings.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# SPARK_GRAFT_CPUS overrides; otherwise one task slot per core this
# process may run on
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

# State-store provider for stateful streaming at scale. The default
# HDFS-backed provider keeps every key in executor heap and rewrites full
# snapshots per commit; RocksDB spills state to local disk and (with
# changelog checkpointing) uploads only per-batch deltas, so per-key state
# 100x larger than heap survives. JVM-side only — needs no extra Python
# deps.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state(spark: SparkSession) -> None:
    """Route subsequent streaming queries' state to RocksDB.

    Applied via runtime conf (the provider class is read at query start),
    so batch work on the same session is unaffected."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
    )
    # Delta-only commits: upload the changelog per batch, compact snapshots
    # in the background — the scale knob that makes 100 GB+ state practical.
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


_STREAMING_STATE_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
)


@contextmanager
def recommended_streaming_state(spark: SparkSession):
    """Run one stateful streaming job on RocksDB state (changelog
    checkpointing on) with one state partition per core, restoring every
    conf after: stateful queries read these at start, and batch work on
    the session must not inherit them.

    The stateful operator takes ``spark.sql.shuffle.partitions`` at its
    first start and pins it in the checkpoint, so existing checkpoints
    keep their count. Every state partition pays a store load, an
    fsync'd changelog commit and a Python round trip per micro-batch,
    whatever its key count. The round trip's Python task used to spend
    125–307 ms re-reading zip directories in
    ``importlib.invalidate_caches()`` (4 tasks at once, 4 cores);
    ``get_spark``'s worker daemon cut that call to under 1 ms. So
    ``defaultParallelism`` partitions run each batch as one wave of
    tasks. At 4 cores the causal stream's
    p50 latency fell from ~4.2 s at 16 partitions to ~1.8 s at 4, and 2
    partitions measured the same as 4. The HDFS-backed provider ties
    RocksDB at this state size; RocksDB stays for its disk-backed state
    and delta-only commits."""
    old = {k: spark.conf.get(k, None) for k in _STREAMING_STATE_CONFS}
    try:
        enable_rocksdb_state(spark)
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
        yield spark
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Python workers fork from this daemon: pyspark's own, with a zip-import
# cache that each task's importlib.invalidate_caches() no longer re-reads
# (see worker_daemon.py)
WORKER_DAEMON = "distributed_causal_stream_processing_spark.worker_daemon"


def _default_driver_memory() -> str:
    """Half of host memory (MemTotal), capped at 32g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(x.split()[1]) for x in fh if x.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "32g"
    return f"{max(1, min(32, kb // 2**21))}g"


def get_spark(
    app_name: str = "distributed_causal_stream_processing_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    n = cpus or DEFAULT_CPUS
    # Python workers don't inherit the driver's script-dir sys.path
    # entry, only cwd + PYTHONPATH, so a kernel that references this
    # package, and the worker daemon below, die with ModuleNotFoundError
    # whenever the entrypoint is launched from outside the repo root.
    # Spark prepends executorEnv's PYTHONPATH to the workers' own, and
    # it holds even when the JVM was started before this call.
    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.executorEnv.PYTHONPATH", repo_dir)
        .config("spark.python.daemon.module", WORKER_DAEMON)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
