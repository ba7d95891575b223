"""SparkSession factory with scale-oriented defaults.

The reference opens DBAPI connections per task
(fastetl/custom_functions/utils/db_connection.py:64-130); our unit of
execution is a SparkSession. Defaults here are chosen for the local[N]
test harness but mirror what we would set on a 1000-executor cluster:
AQE on (runtime shuffle-partition coalescing + skew-join splitting),
broadcast threshold generous enough to broadcast dimension tables,
UTC session time zone for deterministic timestamp semantics.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fastetl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to 2x local cores for the test
    harness; on a real cluster AQE coalesces the final number anyway,
    so the static value only caps the initial shuffle fan-out.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when a local hash map
        # fits (r14, measured 1.0-1.38x on the SMJ-heavy queries, no
        # regressions): the static pick still requires the build side
        # under autoBroadcastJoinThreshold x shuffle partitions, and at
        # scale AQE only rewrites when EVERY post-shuffle partition is
        # below the 128 MB local-map threshold — past either bound the
        # planner falls back to sort-merge, so big-big joins are
        # unaffected. Skew-split still applies (AQE handles SHJ too).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(128 * 1024 * 1024),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # A sync round plus a document batch generates ~100 distinct
        # classes; with the default 100-entry codegen cache each round
        # evicted the last one's and recompiled ~94 (11-14 ms each).
        # Static: it takes effect only when the JVM's first session
        # starts (RUNBOOK "Session configuration").
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # pyspark 4 captures the Python call site on every F.* and
        # Column call, ~10 py4j round trips each (F.col: 13, 3 without).
        # Errors keep their error class and Python traceback; only the
        # call-site fragment of the DataFrame query context goes.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Streaming checkpoints (offset, commit and source logs, the file
        # sink's _spark_metadata, state deltas and their checksums) commit
        # by FileSystem.rename, not Spark's default FileContext.rename: on
        # a local disk that forks `readlink` for both sides of every rename
        # and again for its .crc, ~190 forks per micro-batch of a windowed
        # count. The FileSystem manager checks for an existing target and
        # then renames, where FileContext refuses one atomically; a query
        # already refuses a second concurrent run on its checkpoint
        # (RUNBOOK "Fixed cost per sync round").
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def job_phase(spark: SparkSession, op: str, phase: str):
    """Describe the Spark jobs run inside the block as
    ``fastetl:<op>:<phase>`` (the UI, the event log and the status store
    show it), then restore the caller's description."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", f"fastetl:{op}:{phase}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
