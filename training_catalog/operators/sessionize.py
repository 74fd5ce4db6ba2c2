"""Gap-based sessionization over event streams.

Batch variant: lag + cumulative-sum window (single shuffle on user).
Timestamps compare in integer microseconds so the result is exactly
reproducible across engines (no float truncation at the gap boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(df: DataFrame, user_col: str, ts_col: str,
               gap_minutes: int, tiebreak_col: str) -> DataFrame:
    """Adds ``session_id`` (1-based per user, ordered by time)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    us = F.unix_micros(F.col(ts_col))
    gap_us = gap_minutes * 60 * 1_000_000
    new_session = F.when(
        (us - F.lag(us).over(w)) > F.lit(gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    first = F.when(F.lag(us).over(w).isNull(), F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        F.sum(first + new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
