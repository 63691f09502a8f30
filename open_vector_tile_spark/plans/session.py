"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` for a session: ``SPARK_GRAFT_DRIVER_MEM`` when
    set, else the smaller of 48g and a quarter of the host's ``MemTotal``
    (48g where ``meminfo`` is absent).  In local mode the driver JVM holds
    every executor, and a heap bound past the host lets it grow until the
    machine swaps or kills it (a 48g heap reached 8.7 GB RSS on a 16 GB
    host over the test suite)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except OSError:
        return "48g"
    return f"{min(48 * 1024, max(1, kb // 4 // 1024))}m"


def get_spark(
    app_name: str = "open-vector-tile-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """local[N] session with AQE + skew-join splitting + Arrow enabled.

    On a real cluster the same configs apply; only ``master`` changes
    (spark-submit provides it).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 32)
    # one BLAS/OMP thread per python worker: Spark supplies the parallelism;
    # N workers x M BLAS threads oversubscribes quadratically at local[N]
    # (inherited by python workers from the driver env in local mode)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # shuffle spill dir: tmpfs when available (local-mode shuffles are
    # otherwise bottlenecked by the VM's virtual disk; real clusters use NVMe)
    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    # driver JVM flags (GC choice etc.) — parameterised, applied at JVM
    # launch (the gateway starts inside getOrCreate, so builder configs do
    # reach the driver JVM in local mode)
    driver_java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # python DataSourceV2 filter pushdown (tileset source prunes files
        # by parsed z/x/y before reading a byte)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # 50k-row Arrow batches: 5x fewer JVM<->python-worker socket
        # roundtrips than the 10k default (syscall storms measured at 8+
        # cores of kernel time with small batches at local[32])
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if driver_java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", driver_java_opts)
    return builder.getOrCreate()
