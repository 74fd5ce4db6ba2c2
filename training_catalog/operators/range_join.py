"""Range (band) join: left rows against right [lo, hi] intervals, as a
bucketed equi-join — the interval analogue of the grid-bucketed spatial
join in ``operators.spatial_join``.

Spark plans a raw ``v BETWEEN lo AND hi`` join as BroadcastNestedLoop (or
a cartesian) — quadratic and non-shuffleable.  Bucketing restores an
equi-join: left rows key on ``floor(v / w)``, each interval explodes to
every bucket it overlaps, the join runs on the bucket id, and the exact
BETWEEN predicate filters candidates.  A (row, interval) pair meets in
exactly one bucket (the row's), so no dedup pass is needed.

``bucket_width`` tunes the plan, never the result: pick it near the
typical interval span — wider buckets mean fewer replicated interval rows
but more false candidates per bucket; narrower the reverse.  Intervals
much longer than ``bucket_width`` replicate ``span/w`` times (the
standard cost of interval bucketing; cap pathological spans upstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(left: DataFrame, right: DataFrame,
               value_col: str, lo_col: str, hi_col: str,
               bucket_width: float, how: str = "inner") -> DataFrame:
    """Join left rows to right intervals with
    ``lo_col <= value_col <= hi_col`` (inclusive both ends).

    ``how``: "inner" or "left" (left keeps non-matching rows with null
    right columns, via a bucket-join + anti-union)."""
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    w = float(bucket_width)
    lb = F.floor(F.col(value_col) / w)
    l = left.withColumn("__bucket", lb)
    r = right.withColumn(
        "__bucket",
        F.explode(F.sequence(F.floor(F.col(lo_col) / w),
                             F.floor(F.col(hi_col) / w))))
    matched = (l.join(r, "__bucket")
               .filter((F.col(value_col) >= F.col(lo_col))
                       & (F.col(value_col) <= F.col(hi_col)))
               .drop("__bucket"))
    if how == "inner":
        return matched
    if how == "left":
        missed = l.drop("__bucket").join(
            matched.select(*left.columns), left.columns, "left_anti")
        for c in right.columns:
            missed = missed.withColumn(
                c, F.lit(None).cast(right.schema[c].dataType))
        return matched.unionByName(missed)
    raise ValueError(f"how must be inner/left, got {how!r}")
