"""SparkSession builder for the engine.

Local-mode test/bench profile; on a real cluster the same builder is
driven by spark-submit conf. AQE is on for runtime skew-join/coalesce
re-planning (the reference has no optimizer; Catalyst + AQE is our §4
answer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "otel-logs-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` is the local[] parallelism; ``SPARK_GRAFT_CPUS`` env wins if
    set and cores is None. Shuffle partitions default to the core count —
    at 100 TB on a real cluster this is instead sized so each shuffle
    partition is ~128-256 MB (AQE coalesce handles the rest).
    """
    # local mode: python workers fork from this process, so the allocator
    # choice must be in the process env before the JVM starts (the
    # spark.executorEnv conf covers cluster deployments)
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "jemalloc")
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores in ("*",) else max(int(cores), 4)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: at high core counts, many small batches
        # cause allocator churn that shows up as 70-90% kernel-side CPU
        # (mmap storms) and a >10× parse slowdown; bigger batches plus the
        # non-mmap Arrow allocator (below) eliminate it. Measured on
        # local[32], sf0.5: 72 s → 3 s for the parse stage.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # file-split floor: the default 4 MiB openCostInBytes caps a
        # 25 MiB single-file scan at ~7 splits, pinning the (CPU-bound)
        # parse UDF to 7 of 32 cores. 1 MiB lets totalSize/parallelism
        # win instead; on a real multi-file 100 TB table the
        # maxPartitionBytes bound dominates and this floor is moot.
        .config("spark.sql.files.openCostInBytes", str(1 << 20))
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "jemalloc")
        # fresh python worker per task: long-lived reused workers accumulate
        # fragmented allocator state under Arrow batch churn — after a few
        # jobs at high core counts every UDF stage degrades ~10x with
        # 70-90% kernel-side CPU (mmap storms). Non-reused workers keep
        # allocator state clean. jemalloc (above) additionally returns
        # freed memory without the glibc arena pathology. The price is a
        # fork per Python task, and it is only amortized over long tasks:
        # a 461-row severity dim built with createDataFrame(list) was a
        # Python RDD whose 4-task broadcast took 140-175 ms a pass on 4
        # cores with 6 ms of JVM CPU. So the pipeline's small constant
        # tables go through sources.readers.local_frame (a JVM
        # LocalRelation) instead, and only its UDF stages start workers.
        .config("spark.python.worker.reuse", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-bench sizing: our sf tiers are single small parquet files, so
        # the default 128 MB split would serialize the (UDF-heavy) parse
        # stage onto one task. 8 MB splits ≈ one row group per task here.
        # On a cluster at 100 TB the table is thousands of files — leave
        # this at the 128 MB default there (spark-submit --conf overrides).
        .config("spark.sql.files.maxPartitionBytes", "8m")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
