"""SparkSession factory with explicit scale-oriented configuration.

All knobs the north_rule requires to be explicit (shuffle partitions, Arrow
batching, AQE incl. skew handling, partition bytes) are set here in one
place. Iceberg is wired in when its runtime jar is on the classpath
(real clusters); this sandbox has no Iceberg jar, so `plans.storage`
falls back to a parquet MERGE-emulation documented there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# glibc malloc tuning for the Arrow/numpy hot path (codec encode, pandas
# UDFs): by default glibc serves >128 KB allocations with mmap and returns
# them with munmap on free, so every Arrow batch re-faults (and re-zeroes)
# its temporaries from the kernel — measured 10-100x slower than in-place
# compute on hosts where page provisioning is expensive (virtualized /
# memory-overcommitted machines). Raising the mmap threshold keeps these
# buffers on the heap free-list, so steady-state batches reuse warm pages.
# Applied to the driver (local-mode Python workers fork from it) and
# exported to executors via spark.executorEnv for cluster masters.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": os.environ.get(
        "TSPROFILER_MALLOC_MMAP_THRESHOLD", str(512 * 1024 * 1024)
    ),
}


def get_spark(
    app_name: str = "tsprofiler-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 65536,
    extra_conf: dict | None = None,
    warehouse: str | None = None,
    inherit_master: bool = False,
) -> SparkSession:
    """Build the session with every scale knob explicit.

    ``inherit_master=True`` skips ``.master(...)`` so the master chosen by
    ``spark-submit --master`` (a real cluster, or local[N] in this sandbox)
    is honored — used by the spark-submit entrypoints under ``tools/``.
    ``cores`` then only sizes shuffle partitions / default parallelism.
    """
    cores = cores or DEFAULT_CPUS
    for var, val in _MALLOC_ENV.items():
        os.environ.setdefault(var, val)
    # 4 shuffle tasks per slot: with exactly one wave (partitions == slots)
    # a single straggler extends the whole stage; 4 waves give the scheduler
    # room to rebalance, and AQE coalesces when partitions come out tiny
    shuffle_partitions = shuffle_partitions or max(4 * cores, 32)

    builder = SparkSession.builder.appName(app_name)
    if not inherit_master:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's 64m default advisory size is tuned for scan-like stages; the
        # engine's window stages (gap-fill LOCF + bucketize) SORT their
        # partition, and a 64m compressed shuffle partition deserializes to
        # ~350 MB of UnsafeRows — past the per-task execution-memory share
        # at the 1-1.5 GB/core the scaling harness (and most real clusters)
        # provision, so every window task spill-serializes its whole input
        # (measured: 4.8 GB memory-bytes-spilled per pass at 41M rows,
        # ~30% of the stage's task time, and the single largest N->4N
        # efficiency sink since spill traffic rides the shared memory bus).
        # 24m keeps the sort in memory with 2-3x headroom; at 100 TB this
        # just means proportionally more window tasks, which is exactly the
        # partition-count growth a fixed-size-executor fleet wants.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "24m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        # Generated-class cache (static, default 100): one bulk cycle needs
        # more classes than that, so at the default each was evicted before
        # its next use and recompiled every cycle (measured: 147 compiles
        # per perfbench backfill cycle, 0 at this size). 1024 leaves room
        # for the stream, the entry queries and the tests.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for var, val in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{var}", val)
    if warehouse:
        builder = builder.config("spark.sql.warehouse.dir", warehouse)

    # Iceberg wiring for real clusters (jar not present in this sandbox):
    # spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:...
    if os.environ.get("TSPROFILER_ICEBERG_CATALOG_PATH"):
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config(
                "spark.sql.catalog.local.warehouse",
                os.environ["TSPROFILER_ICEBERG_CATALOG_PATH"],
            )
        )

    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    return builder.getOrCreate()
