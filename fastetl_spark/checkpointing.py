"""Lineage materialization with a cluster-reliability switch.

Several pipelines (dedup candidate generation, IVF cell assignment,
token-budget cumsum, sync staging) materialize an intermediate frame
that is consumed by more than one downstream branch, or whose lineage
must be cut before an iterative step. On `local[N]` the cheap form is
``localCheckpoint()`` — blocks live in executor storage and vanish with
the executor. On a real cluster that is a reliability bug: one lost
executor kills the job with no recompute path, because the truncated
lineage cannot be replayed.

``materialize(df)`` is the single switch point. When a reliable
checkpoint directory has been configured (``enable_reliable_checkpoints``
/ ``SparkContext.setCheckpointDir``), it routes to ``df.checkpoint()``
(blocks on the checkpoint filesystem, HDFS/S3 — survives executor
loss); otherwise it falls back to ``localCheckpoint()``. Every
materialization site in the package goes through this helper via
``.transform(materialize)``, so flipping one engine-level setting
changes the durability of all of them at once (RUNBOOK: set it for any
multi-executor deployment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession


def reliable_checkpoint_dir(spark: SparkSession) -> str | None:
    """The configured reliable checkpoint directory, or None."""
    return spark.sparkContext.getCheckpointDir()


def enable_reliable_checkpoints(spark: SparkSession, path: str) -> None:
    """Route all subsequent ``materialize`` calls through reliable
    checkpoints rooted at ``path`` (an HDFS/S3/shared-fs directory on a
    cluster). Idempotent; affects the whole SparkContext."""
    spark.sparkContext.setCheckpointDir(path)


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage and materialize ``df`` once, eagerly.

    Reliable ``checkpoint()`` when a checkpoint dir is configured,
    ``localCheckpoint()`` otherwise. Use as ``df.transform(materialize)``
    so the call reads like the method chain it replaces.
    """
    if reliable_checkpoint_dir(df.sparkSession) is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def observed(obs: Observation, empty: dict) -> dict:
    """The metrics of ``obs`` once its frame has run an action, so a
    driver-side fact rides on an action that already runs instead of a
    job of its own. Call only after that action: ``get`` blocks until
    the observed plan executes.

    When the optimizer or AQE drops a subtree it proves empty, an
    observation inside it goes too and Spark hands back an empty row;
    ``empty`` (the aggregates over zero rows) is returned instead. That
    is exact only where every operator between the observation and the
    action or the write's exchange keeps rows (RUNBOOK.md)."""
    if obs._jo.getRow().length() == 0:
        return dict(empty)
    return obs.get
