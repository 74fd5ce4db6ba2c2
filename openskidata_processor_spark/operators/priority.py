"""Priority reducers (reference A1 — the run-merge UDAF's core trick).

The reference merges N property values by a fixed priority list: easiest
difficulty wins (``RunJoining.ts:168-177``), "operating" status wins
(``:189-196``) and tri-state booleans reduce true > false > null
(``:198-208``).

In Spark these become plain aggregations: map the value to its priority
index, take ``min``, map back — all inside a hash aggregate (partial +
final), so the reduce is map-side-combining and shuffle-light at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def priority_index(col: Column, priorities: list[str]) -> Column:
    """Value → its index in ``priorities`` (0 = highest priority); unknown or
    null values map to len(priorities) so they lose to any known value."""
    arr = F.array(*[F.lit(p) for p in priorities])
    pos = F.array_position(arr, col)  # 1-based; 0 when absent/null
    return F.when(pos > 0, pos - 1).otherwise(F.lit(len(priorities)))


def priority_merge_agg(col: Column, priorities: list[str]) -> Column:
    """Aggregate expression: highest-priority value in the group (null when
    every row is null/unknown)."""
    arr = F.array(*[F.lit(p) for p in priorities])
    idx = F.min(priority_index(col, priorities))
    # element_at is 1-based; guard the out-of-list sentinel (ANSI mode).
    return F.when(idx < len(priorities), F.element_at(arr, (idx + 1).cast("int")))


def tristate_or_agg(col: Column) -> Column:
    """true > false > null reducer (A1 booleans)."""
    idx = F.min(F.when(col == True, 0).when(col == False, 1).otherwise(2))  # noqa: E712
    return (F.when(idx == 0, F.lit(True))
             .when(idx == 1, F.lit(False))
             .otherwise(F.lit(None).cast("boolean")))

