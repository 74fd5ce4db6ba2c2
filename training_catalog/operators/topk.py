"""Top-k / top-1-per-key (reference W1/J5: best-lift-per-station argmin,
``src/clustering/LiftStationAssociator.ts:118-150``).

Implemented as a rank window — Spark plans this as a single shuffle on the
partition keys with in-partition sort; with AQE it handles skewed keys.  For
k=1 at very large scale, ``max_by``-style groupBy aggregation is cheaper than
a full sort; ``top1_per_key_agg`` provides that variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n_per_key(df: DataFrame, keys: list[str], order: list[Column],
                  n: int = 1, rank_col: str | None = None) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*order)
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= n)
    if rank_col:
        return out.withColumnRenamed("__rn", rank_col)
    return out.drop("__rn")


def top1_per_key_agg(df: DataFrame, keys: list[str], order_cols: list[str],
                     payload_cols: list[str]) -> DataFrame:
    """Shuffle-light argmin: map-side partial min_by instead of a sort.

    ``order_cols`` form the lexicographic ordering (ascending); the struct
    min makes the comparison deterministic including tie-breaks.
    """
    ordering = F.struct(*[F.col(c) for c in order_cols + payload_cols])
    agg = df.groupBy(*keys).agg(F.min(ordering).alias("__best"))
    return agg.select(
        *keys,
        *[F.col(f"__best.{c}").alias(c) for c in order_cols + payload_cols])
