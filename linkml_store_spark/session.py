"""SparkSession factory tuned for both local testing and large-cluster use.

At 100 TB the same code runs unchanged on a real cluster: the settings below
that matter at scale (AQE, skew-join handling, partition coalescing, Arrow
batched Python UDFs) are enabled here; local-only settings (shuffle partition
count, driver memory) are parameterized by environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_driver_memory() -> str:
    """Heap for the single local-mode JVM: ``$SPARK_DRIVER_MEMORY`` if set,
    else a quarter of box RAM clamped to [8g, 32g].

    The old flat 8g default was a measured scale cliff (round 12): a
    groupBy + exact count_distinct over 120M rows spills ~15 GB of
    partial-aggregate hash map per run (this container's scratch disk
    reads at ~30 MB/s cold, so spill + the page-cache eviction it causes
    dominate the wall 3-10x), while the same query in a right-sized heap
    runs spill-free at DuckDB-comparable walls. A quarter of RAM leaves
    the rest to the OS page cache (slow-disk boxes live off it) and the
    Arrow/pandas Python workers; the 32g cap keeps G1 young-gen
    calibration pauses bounded — measured 48g heaps spent WHOLE first
    runs in GC while the collector learned the allocation rate. On a
    real cluster executors get explicit sizes (``cluster_conf``); this
    only governs local['*'] JVMs.
    """
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    break
            else:
                return "8g"
    except OSError:
        return "8g"
    return f"{min(max(total_gb // 4, 8), 32)}g"


def get_spark(
    app_name: str = "linkml-store-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local defaults follow the harness contract: ``local[$SPARK_GRAFT_CPUS]``
    with ``spark.sql.shuffle.partitions`` matched to the core count so small
    benchmarks are not dominated by empty-partition scheduling. On a cluster,
    pass ``master=None`` with a real deployment and AQE coalesces shuffle
    partitions at runtime.

    Local sessions fork their Python workers from
    ``linkml_store_spark.worker_daemon`` (``spark.python.daemon.module``).
    Before every task pyspark refreshes the import caches, and under
    CPython 3.11 that re-reads the central directory of every zip on
    the worker path (pyspark.zip, the py4j zip, the spark-core jar):
    about 250 ms of worker CPU per task before any user code runs. The
    daemon re-reads an archive only when its stat stamp changed, which
    cuts a task's cost, JVM and worker together, from about 250 to about
    60 ms of CPU for every UDF kind (4-vCPU box). The daemon module
    is a static conf read when the JVM starts, so a session this function
    did not build (a foreign or pre-existing one, or a cluster master)
    keeps pyspark's stock daemon and pays the per-task re-read.
    """
    # Executor Python workers must be able to import this package (pandas
    # UDFs pickle references to it). Driver-side sys.path edits don't reach
    # workers, so export the package root on PYTHONPATH before the JVM forks.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-planning, skew-join splitting, partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas_udf / toPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Timestamps: keep parquet INT96-free round trips deterministic.
        .config("spark.sql.session.timeZone", "UTC")
        # Spark cannot read parquet TIMESTAMP(NANOS) natively (SPARK-40819);
        # read as long and convert via sources.tables.ts_from_nanos.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (pandas-written
        # naive timestamps) would otherwise scan as TIMESTAMP_NTZ, which
        # watermarks and double-casts reject; under the forced-UTC session
        # reading them as TimestampType is lossless and matches DuckDB's
        # naive-timestamp semantics.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # push MIN/MAX/COUNT straight into parquet footers (statistics-only
        # answers for unfiltered aggregates — metadata reads at any scale)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Align Spark's whole-stage-codegen fallback with HotSpot's hard
        # 8000-byte DontCompileHugeMethods refusal. The default (65535)
        # keeps WSCG for generated methods the JIT then refuses to compile,
        # so wide unrolled expressions (the 64-term native dot/cosine
        # kernels in functions/vector.py) run JVM-INTERPRETED: measured
        # 0.70 s vs 0.17 s for a 64-d dot over 400k rows. Below the limit
        # nothing changes; above it Spark falls back to per-operator
        # codegen whose split methods JIT fine. (SPARK-21871 added the
        # conf for exactly this.)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.driver.memory", _local_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # fork Python workers from a daemon that stops pyspark's per-task
        # re-read of unchanged zip archives (see worker_daemon). Local
        # workers import the package from the PYTHONPATH exported above;
        # a cluster's executors may not have it installed, so they keep
        # the stock daemon unless extra_conf names this one.
        builder = builder.config(
            "spark.python.daemon.module", "linkml_store_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_conf(
    executor_memory_gb: int = 16,
    target_partition_mb: int = 256,
    shuffle_partitions: int = 2000,
) -> dict:
    """Recommended conf overrides for a real multi-executor cluster at the
    100 TB tier — pass as ``get_spark(extra_conf=cluster_conf(...))``.

    Sizing logic: scan partitions target ``target_partition_mb`` so a task's
    working set (decompressed columns of one partition) stays well under an
    executor core's memory share; ``shuffle_partitions`` starts high (AQE
    coalesces down, it cannot split up except for skew); shuffle compression
    + spill settings assume NVMe-local scratch.
    """
    return {
        "spark.sql.files.maxPartitionBytes": f"{target_partition_mb}m",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.executor.memory": f"{executor_memory_gb}g",
        "spark.memory.fraction": "0.6",
        "spark.shuffle.compress": "true",
        "spark.shuffle.spill.compress": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    }
