"""Lineage cuts with a cluster-durable mode.

``truncate_lineage(df)`` cuts the logical plan inside iterative algorithms
(connected components) and between pipeline phases, where plan growth is
the problem.  Locally this is ``localCheckpoint`` (fast, executor-memory);
with reliable mode on it becomes a real ``checkpoint()`` to the configured
checkpoint directory, which survives executor loss.

Reliable mode is enabled per-call (``reliable=True``) or globally with
``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``; the checkpoint directory defaults to
``SPARK_GRAFT_CHECKPOINT_DIR`` or a local temp dir (on a real cluster set
it to an HDFS/S3 path).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame


def _reliable_mode(reliable: bool | None) -> bool:
    if reliable is not None:
        return reliable
    return os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "") in (
        "1", "true", "yes")


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            or tempfile.mkdtemp(prefix="spark_graft_ckpt_"))


def truncate_lineage(df: DataFrame, eager: bool = True,
                     reliable: bool | None = None) -> DataFrame:
    """Lineage cut for iterative loops / staged pipelines (plans must stay
    bounded).  ``eager=False`` defers materialization to the first action."""
    if _reliable_mode(reliable):
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
