"""Per-group embedding centroids and prototype-distance outlier
pruning — the "drop examples far from their class prototype" curation
step (mislabeled/noisy-example removal, the centroid half of
prototype-based filtering).

Pure Catalyst, no UDFs, corpus shuffles once:

- centroids: posexplode the vector → groupBy (group, dim) avg →
  re-assemble with an ordered collect per group.  The aggregation is
  map-side partial; the centroid table is groups × dim rows — tiny —
  and broadcasts back onto the corpus.
- distance: d2 = v·v + c·c − 2·v·c computed JVM-side with
  ``F.aggregate``/``F.zip_with`` (whole-stage codegen, no Python).
- outlier rule: d2 > (factor_num/factor_den) × the group's mean d2 —
  both sides quantized to ``decimals`` first, so the cross-engine
  agreement argument is the usual measure-zero rounding-boundary one
  (``operators/kmeans.py``).

At 100 TB: one explode-shuffle on (group, dim) for the model (bounded
by groups × dim, not corpus size), one broadcast join + map-side d2, one
map-side-partial mean per group.  Nothing quadratic anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def group_centroids(df: DataFrame, group_col: str = "label",
                    vec_col: str = "embedding",
                    decimals: int = 6) -> DataFrame:
    """(group, centroid): elementwise mean vector per group, rounded."""
    dims = (df.select(F.col(group_col).alias("g"),
                      F.posexplode(F.col(vec_col).cast("array<double>"))
                      .alias("i", "x"))
            .groupBy("g", "i").agg(F.round(F.avg("x"), decimals).alias("m")))
    return (dims.groupBy("g")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m")))
                 .alias("__sm"))
            .select(F.col("g").alias(group_col),
                    F.transform("__sm", lambda s: s["m"])
                    .alias("centroid")))


def centroid_outliers(df: DataFrame, group_col: str = "label",
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      factor_num: int = 6, factor_den: int = 5,
                      decimals: int = 6) -> DataFrame:
    """(id, group, d2, outlier): squared distance to the own-group
    centroid, flagged when d2 exceeds factor × the group mean d2."""
    cents = group_centroids(df, group_col, vec_col, decimals)
    v = F.col(vec_col).cast("array<double>")
    c = F.col("centroid")
    scored = (df.select(id_col, group_col, vec_col)
              .join(F.broadcast(cents), group_col)
              .withColumn("d2", F.round(
                  _dot(v, v) + _dot(c, c) - 2 * _dot(v, c), decimals))
              .drop(vec_col, "centroid"))
    means = scored.groupBy(group_col).agg(
        F.round(F.avg("d2"), decimals).alias("__m"))
    return (scored.join(F.broadcast(means), group_col)
            .select(id_col, group_col, "d2",
                    (F.col("d2") * factor_den
                     > F.col("__m") * factor_num).alias("outlier")))
