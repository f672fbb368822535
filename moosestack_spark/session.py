"""SparkSession factory with scale-oriented defaults.

Tested on local[32]; the conf below is chosen so the same logical plans hold on
a 1000-executor cluster against ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join selection)
- autoBroadcastJoinThreshold raised so dimension tables (region/nation/
  customer/supplier/part at any SF where they fit) broadcast instead of
  shuffling the fact side
- shuffle.partitions sized for the local harness; on a real cluster AQE's
  coalescePartitions makes the initial number mostly irrelevant
- session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location independent
- Arrow enabled for the Pandas-UDF paths (dedup/similarity/multimodal ops)
- file listing stays on the driver up to 10k paths: a table read passes
  its snapshot's file list (catalog/txlog.py), and above Spark's default of
  32 paths the listing becomes a job of one task per path (10.8 s to build
  a 2000-file read on 4 cores, against 0.5-1 s listed by the driver)
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession

# The checkout that holds this package.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's MemTotal, in whole GiB (1-24g): the rest is left to
    the Python/Arrow workers, the JVM's off-heap memory and the OS.  A heap
    larger than physical memory (the old fixed 24g on a 15 GB host with no
    swap) turns a memory-heavy gate into an OOM kill instead of a GC.  24g
    when MemTotal cannot be read."""
    try:
        with open(meminfo) as fh:
            kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    return f"{min(24, max(1, kib // 2 // (1 << 20)))}g"


def default_cpus() -> str:
    """The cores this process may run on (its CPU affinity), so a 4-core
    host gets local[4] rather than a fixed local[32].  SPARK_GRAFT_CPUS
    overrides it."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "moosestack-spark", **extra_conf: str) -> SparkSession:
    cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long and convert in tables.t().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    # Python workers import the gate kernels (mapInPandas, UDFs) by name, and
    # the JVM launched here passes this PYTHONPATH on to them: put this
    # checkout first, so they load the same code as the Spark driver from any cwd.
    rest = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    rest = [p for p in rest if p and p != REPO_ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join([REPO_ROOT, *rest])
    return builder.getOrCreate()


@contextlib.contextmanager
def materialization_scope(spark: SparkSession) -> Iterator[None]:
    """Free, on every exit path, the blocks of each RDD persisted inside
    the block: the ``localCheckpoint()`` results a gate leaves behind once
    the caller has consumed them.  RDDs already persisted on entry (a
    fixture checkpointed before a timed lap, say) are never touched, and
    the release is non-blocking, so it costs a few driver calls.

    Do not wrap concurrent work on one session in a scope: it would
    release the blocks another thread persisted meanwhile.  The HTTP
    server and the ingest path do not use it for that reason."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    try:
        yield
    finally:
        for rid, rdd in jsc.getPersistentRDDs().items():
            if rid not in before:
                rdd.unpersist(False)
