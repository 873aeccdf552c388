"""SparkSession factory tuned for this engine.

Local-mode defaults match the sandbox (single JVM, N threads); the same
settings are what we would submit with ``spark-submit --py-files`` on a
real cluster — partitioning/shuffle sizing is expressed relative to
parallelism so it survives the jump from local[32] to 1000 executors.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def build_spark(
    app_name: str = "sassy_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    # The scoring kernel allocates/frees multi-MB numpy arrays per batch;
    # with default glibc thresholds those are mmap'd and munmap'd, and the
    # resulting TLB-shootdown IPIs serialize all 32 workers (measured 4x
    # wall-time on the scoring stage). Keep big allocations on the heap.
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, "2147483647")
    # Rule of thumb: ~2 shuffle tasks per core locally; on a real cluster
    # AQE coalesces anyway, so this is a starting hint, not a commitment.
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)
    # shuffle/spill dir: SASSY_LOCAL_DIR, else Spark's own default
    # (SPARK_LOCAL_DIRS, else java.io.tmpdir) — never RAM by default, so a
    # killed session leaves no block files in memory
    local_dir = os.environ.get("SASSY_LOCAL_DIR")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce toward the advisory size even below defaultParallelism:
        # iterative stages (connected components) move KB-scale edge sets —
        # at the default (parallelismFirst=true) every tiny stage still
        # launches ~2xCores tasks, and on this VM concurrent task startup
        # faults serialize; a real cluster pays the scheduler overhead
        # instead. CPU-bound stages (the scoring kernel) fan out with an
        # explicit repartition, which AQE leaves alone.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # catalog tables (saveAsTable / read.table — the Iceberg-shaped
        # path of run_pipeline --input <table>) land in tmp, not the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SASSY_WAREHOUSE_DIR", "/tmp/sassy-warehouse"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches amortize Python worker round-trips; the
        # scoring UDF re-batches internally by (word-count, text length)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SASSY_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # size the JVM's internal pools (GC, JIT, ForkJoin) to the cores
        # THIS session owns, not the whole box — without it, concurrent
        # sessions each spawn 32-core-sized thread pools and futex-storm
        # each other (measured 9x slowdown with 4 co-resident local[8] JVMs)
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.net.preferIPv6Addresses=false "
            f"-XX:ActiveProcessorCount={cores} "
            + os.environ.get("SASSY_JVM_FLAGS", ""),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd halves shuffle bytes vs lz4 on text payloads; in this VM
        # every fresh page-cache page costs a serialized fault (measured
        # 70x first-touch collapse at 32-way concurrency), so fewer bytes
        # written = directly less time in the kernel
        .config("spark.io.compression.codec", "zstd")
        # fork workers from a daemon that has numpy/pandas/pyarrow/kernel
        # already imported — pages shared CoW instead of re-faulted per
        # worker (first-touch faults are the scaling bottleneck here)
        .config("spark.python.daemon.module", "sassy_spark.worker_daemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            str(Path(__file__).resolve().parent.parent),
        )
        .config(
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
            os.environ["MALLOC_MMAP_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
            os.environ["MALLOC_TRIM_THRESHOLD_"],
        )
    )
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
