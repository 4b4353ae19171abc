"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Share of usable memory given to the driver heap by default.  In
# local[N] every task runs inside that one JVM, which grows to its heap
# limit before a full GC, so the heap must leave room for the JVM's own
# overhead, the Python workers and everything else on the host.
HEAP_SHARE = 0.5


def host_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the host's
    core count: a container or taskset sees fewer)."""
    return len(os.sched_getaffinity(0))


def host_memory_mb() -> int:
    """MemTotal, lowered to the cgroup memory limit when one is set."""
    total = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) // 1024
                break
    for limit_file in ("/sys/fs/cgroup/memory.max",
                       "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(limit_file) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw) // (1 << 20))
    return total


def default_driver_memory() -> str:
    return f"{int(host_memory_mb() * HEAP_SHARE)}m"


def get_spark(app: str = "medical_ocr_pipeline_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus())
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = max(8, host_cpus() if n == "*" else int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Key-only repartitions (base.fanout) are REPARTITION_BY_COL:
        # AQE-managed, partition count from shuffle.partitions.  At the
        # default minPartitionSize (1 MB) AQE would coalesce the toy-
        # scale corpora (sf0.1 documents ~1.5 MB of text) down to 1-2
        # partitions and serialize the shingle/token pipelines; with
        # parallelismFirst (default true) the target size is
        # max(total/parallelism, minPartitionSize), so a tiny floor
        # keeps local[N] fan-outs at N partitions while a production
        # cluster (where total/parallelism >> 1 MB) is unaffected.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
