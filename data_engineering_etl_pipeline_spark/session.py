"""SparkSession factory with scale-appropriate defaults.

The reference runs eager single-node pandas (no session concept); here one
``SparkSession`` hosts the whole pipeline graph so Catalyst sees end-to-end
lineage (SURVEY.md §3 E1). Config choices target both local[N] testing and a
multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces any
  hand-tuned partition counts at 100 TB.
- Cached and pinned plans may change their output partitioning, so AQE
  coalesces them like any other plan; otherwise a pin keeps every shuffle
  partition, and a write from it emits one file per partition and
  output directory.
- Arrow on — every pandas-UDF boundary is Arrow-vectorized.
- UTC session timezone — parity with the DuckDB oracle and with the
  reference's ``dt.normalize()`` midnight-UTC convention
  (reference: all-etl-pipelines/pipeline_helpers.py:213).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
        app_name: str = "data_engineering_etl_pipeline_spark") -> SparkSession:
    """Build (or reuse) the engine session.

    ``spark.sql.shuffle.partitions`` is the local core count: the CPUs
    this process may run on, overridable with ``SPARK_GRAFT_CPUS`` and read
    once with the master URL. More local task slots than cores only adds
    scheduling and shuffle-file overhead. On a real cluster AQE coalescing
    makes the initial number a ceiling, not a target, so a larger value
    (e.g. 2-3× total cores) is safe at 100 TB.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    # Default heap: half the physical RAM, at most 16 GiB. A heap as large
    # as the machine lets a long-lived local session grow until the kernel
    # OOM-kills the JVM (a 16g heap on a 15 GiB host did, in the test suite).
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                f"{min(16 << 10, ram_mb // 2)}m")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # reliable checkpoints (dedup.dedup_clusters' fault-tolerant
        # backend) write per-round snapshot files; let the ContextCleaner
        # delete them when the superseded RDD is GC'd instead of leaking
        # one snapshot per iteration into the checkpoint dir.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # A checkpoint DIR makes the reliable (replicated, executor-loss-safe)
    # backend available to iterative operators. tempdir is right for
    # local[N]; a cluster deployment should point this at durable shared
    # storage (the lake) via SPARK_GRAFT_CHECKPOINT_DIR — a lost executor
    # can then re-read the snapshot instead of killing the job.
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            or os.path.join(tempfile.gettempdir(), "spark-graft-checkpoints"))
    return spark

