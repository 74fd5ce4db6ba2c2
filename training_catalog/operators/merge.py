"""CDC merge / upsert — latest-version-wins reconciliation of a base table
with a change stream, the lakehouse ``MERGE INTO`` shape a training-data
pipeline needs for incremental corpus refreshes.

The reference applies incremental updates by rewriting whole per-layer files
(``src/io/GeoJSONFiles.ts`` stages are full snapshots); at 100 TB a full
rewrite is off the table, so the engine exposes the standard key+version
merge instead.

Scale design: one hash-shuffle on the merge keys, resolved with a
``max_by(struct(*), (version, source))`` aggregation rather than a
row_number window — partial aggregation runs map-side, so each shuffle
partition receives at most one pre-reduced candidate row per key per mapper
instead of every duplicate, and no per-key sort is needed.  AQE handles
skewed keys.  Deletes are tombstone rows (``delete_col = true``) dropped
after resolution, exactly like Delta/Hudi/Iceberg merge-on-read semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SRC = "__merge_src"


def merge_upsert(base: DataFrame, updates: DataFrame, keys: Sequence[str],
                 version_col: str, delete_col: str | None = None) -> DataFrame:
    """Return ``base`` with ``updates`` applied: for each key, the row with
    the highest ``version_col`` wins; on version ties the update side wins
    (deterministic MERGE semantics).  Rows whose winning version carries
    ``delete_col = true`` are removed.

    Both inputs must share a schema (``delete_col`` may be absent from
    ``base`` — it is treated as false there).
    """
    if delete_col is not None and delete_col not in base.columns:
        base = base.withColumn(delete_col, F.lit(False))
    base = base.withColumn(_SRC, F.lit(0))
    updates = updates.withColumn(_SRC, F.lit(1))
    if delete_col is not None:
        updates = updates.withColumn(
            delete_col, F.coalesce(F.col(delete_col), F.lit(False)))

    unioned = base.unionByName(updates)
    payload = [c for c in unioned.columns if c not in keys]
    resolved = (unioned
                .groupBy(*keys)
                .agg(F.max_by(
                    F.struct(*[F.col(c) for c in payload]),
                    F.struct(F.col(version_col), F.col(_SRC))
                ).alias("__winner")))
    out = resolved.select(*keys, "__winner.*").drop(_SRC)
    if delete_col is not None:
        out = out.filter(~F.col(delete_col)).drop(delete_col)
    return out
