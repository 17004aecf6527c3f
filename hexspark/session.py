"""SparkSession factory with the engine's standard configuration.

Local sandbox runs on local[N] (single JVM); the same configuration is what
we'd submit with ``spark-submit --py-files hexspark.zip`` on a real cluster —
nothing here is local-mode-specific except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# glibc malloc tuning for the Python workers (they inherit the env of the
# JVM, which inherits ours when we launch the gateway). numpy frees/
# reallocates MB-scale temporaries constantly; with the default
# MMAP_THRESHOLD every one is its own mmap/munmap, and at 32 concurrent
# workers the page-fault + zone-lock traffic in the kernel throttles the
# whole machine (measured 3.4x worker slowdown). Keeping big blocks in the
# sbrk arena makes worker allocation reuse local and lock-free.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
}


def apply_malloc_tuning() -> None:
    """Set glibc malloc env vars; must run before the JVM gateway starts so
    Python workers inherit them. On a real cluster the same settings go in
    spark.executorEnv.* / spark-env.sh."""
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)


def default_driver_memory() -> str:
    """Driver heap for local sessions: a quarter of the host's MemTotal,
    capped at 16g (local mode runs every executor inside the driver JVM,
    so a fixed 16g on a small host lets the JVM outgrow physical memory
    and get OOM-killed). HEXSPARK_DRIVER_MEM overrides it."""
    env = os.environ.get("HEXSPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{min(16 * 1024, kb // 4 // 1024)}m"


def get_spark(
    app_name: str = "hexspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    apply_malloc_tuning()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: match cores so every stage keeps all threads busy
        # without tiny-partition overhead; on a real cluster this would be
        # ~2-3x total executor cores (or left to AQE coalescing).
        shuffle_partitions = cpus * 2

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Force the serialized (Unsafe) sort shuffle writer for every
        # shuffle instead of BypassMergeSortShuffleWriter. Bypass opens one
        # file per reducer per map task (64 reducers x 32 concurrent tasks
        # = 2048 live file streams); on this VM's ext4 the resulting
        # small-file creation storm inflated shuffle-write time ~50x and
        # per-task CPU ~8x at full occupancy (measured: blocking stage
        # 16.6s -> 5.4s at local[32] with this one setting). The Unsafe
        # writer emits ONE spill file + index per map task regardless of
        # reducer count — the same reason it is the right choice on a
        # 1000-executor cluster, where M*R tiny shuffle files would
        # overwhelm node-local disks.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in _MALLOC_ENV.items():
        # cluster-mode path: ship the malloc tuning to executors explicitly
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
