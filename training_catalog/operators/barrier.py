"""Materialization barriers for subplans with several consumers.

``materialize(df)`` marks a subplan that is *reused by multiple downstream
consumers* (e.g. a shingle table feeding both sides of a self-join).
Default is a lazy ``persist(MEMORY_AND_DISK)``: nothing runs until the
first action, blocks spill to disk rather than evicting, and — critically
for a 1000-executor cluster — lineage is retained, so an executor loss
triggers recompute instead of job death.  This replaced the round-2 eager
``localCheckpoint`` barriers, whose serialized up-front materialization
caused 2–5× run-to-run variance and whose non-reliable blocks are
unrecoverable on executor loss.

Reliable mode (``reliable=True`` or ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``)
checkpoints instead, as the pipeline's
``openskidata_processor_spark.operators.barrier.truncate_lineage`` does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from openskidata_processor_spark.operators.barrier import (
    _ensure_checkpoint_dir, _reliable_mode)


def materialize(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Barrier for a subplan consumed by multiple downstream operators."""
    if _reliable_mode(reliable):
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=False)
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def materialize_now(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """``materialize`` + immediate cache fill, for subplans whose consumers
    are INDEPENDENT leaf stages of one query (self-join sides, multi-leg
    unions).  AQE submits such stages concurrently, and a lazily persisted
    frame is then computed once PER STAGE — none of the racing tasks sees
    the others' in-progress blocks, so an expensive upstream (a pandas-UDF
    chain, a corpus-scale shingle explode) runs N× instead of 1×
    (measured: 12 concurrent ~3 s synth recomputes in
    ``multimodal_near_dup_groups`` before this barrier existed).  The
    ``count()`` is one extra scheduled job but does no extra WORK — it
    performs the cache build the first consumer stage would have done,
    after which every consumer reads the cached blocks.  Lineage is
    retained (eviction/executor loss recomputes), unlike a checkpoint."""
    out = materialize(df, reliable=reliable)
    out.count()
    return out


def spread_input(df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism when the input arrives
    as fewer files than cores (bench testdata is single-row-group parquet,
    so EVERY scan stage otherwise runs as one task and serializes the
    per-row work — regex tokenization, shingle explodes, fold expressions,
    encode UDFs — onto one core until the first shuffle; guide §2.5
    "input skew: one huge unsplittable file → repartition right after the
    read").  Uses the scan's file list, not ``df.rdd.getNumPartitions()``
    (which forces an RDD conversion of the plan per call); at real scale
    the scan has many files/splits and this is a no-op.  Only worth
    inserting where the scan stage's per-row compute dominates the one
    round-robin exchange it adds."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        nfiles = 0
    if 0 < nfiles < par:
        return df.repartition(par)
    return df
