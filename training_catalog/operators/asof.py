"""As-of join: for each left row, the most recent right row at-or-before
its time, per key — the canonical timeseries operator (pandas
``merge_asof``, DuckDB ``ASOF JOIN``) that Spark's built-ins lack.

Expressed as a composition of existing DataFrame ops, not a UDF: both
sides union into one stream tagged by side, a single shuffle sorts each
key's timeline, and ``last(..., ignorenulls=True)`` over the
rows-preceding window carries the latest right payload forward onto every
left row.  Right rows sort before left rows at equal timestamps, making
the match inclusive (``right_time <= left_time``), and the right payload
travels as ONE struct column so arbitrarily many columns carry in a
single window expression.

Scale shape: one shuffle on the key (both inputs), one in-partition sort
— the same cost as a co-grouped join, with no range-explosion.  Skewed
keys (one user with millions of events) fall to AQE; the salted variant
in ``operators.skew`` applies if a single key exceeds a task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame,
              left_on: str, right_on: str,
              left_by: str, right_by: str,
              direction: str = "backward",
              tolerance_seconds: float | None = None,
              suffix: str = "") -> DataFrame:
    """For each left row: the right row with the greatest ``right_on`` ≤
    ``left_on`` (direction="backward") or smallest ≥ (direction=
    "forward"), matching ``left_by == right_by``.  Unmatched left rows
    keep null right columns (left-join semantics).
    ``tolerance_seconds`` (pandas merge_asof ``tolerance``): a match
    further than this from the left time nulls out, same as no match.

    Right-side duplicates at the same (key, time) are resolved to the
    LAST under a deterministic sort of the payload struct — pre-aggregate
    the right side if a different tie policy is needed.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward/forward, "
                         f"got {direction!r}")
    rcols = [c for c in right.columns if c not in (right_on, right_by)]
    payload = F.struct(*[F.col(c) for c in rcols]).alias("__p")
    r = right.select(F.col(right_by).alias("__k"),
                     F.col(right_on).cast("timestamp").alias("__t"),
                     F.lit(0).alias("__side"), payload)
    l = left.select(F.col(left_by).alias("__k"),
                    F.col(left_on).cast("timestamp").alias("__t"),
                    F.lit(1).alias("__side"),
                    F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
                    F.struct(*[F.col(c) for c in left.columns]).alias("__l"))
    r = r.withColumn("__l", F.lit(None).cast(l.schema["__l"].dataType))
    u = l.unionByName(r.select("__k", "__t", "__side", "__p", "__l"))

    if direction == "backward":
        # right(0) sorts before left(1) at equal __t ⇒ inclusive match
        w = (Window.partitionBy("__k").orderBy(F.col("__t").asc(),
                                               F.col("__side").asc(),
                                               F.col("__p").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    else:
        # descending time; __p asc keeps the same max-payload tie policy
        w = (Window.partitionBy("__k").orderBy(F.col("__t").desc(),
                                               F.col("__side").asc(),
                                               F.col("__p").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = u.withColumn("__m", F.last("__p", ignorenulls=True).over(w))
    if tolerance_seconds is not None:
        mt = F.last(F.when(F.col("__side") == 0, F.col("__t")),
                    ignorenulls=True).over(w)
        gap = (F.unix_micros(F.col("__t")) - F.unix_micros(mt)
               if direction == "backward"
               else F.unix_micros(mt) - F.unix_micros(F.col("__t")))
        carried = carried.withColumn(
            "__m", F.when(gap <= F.lit(int(tolerance_seconds * 1_000_000)),
                          F.col("__m")))
    out = carried.filter(F.col("__side") == 1)
    cols = [F.col(f"__l.{c}").alias(c) for c in left.columns]
    cols += [F.col(f"__m.{c}").alias(c + suffix) for c in rcols]
    return out.select(*cols)
