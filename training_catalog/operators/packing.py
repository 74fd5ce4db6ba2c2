"""Sequence packing — greedy next-fit bin packing of documents into
fixed-token-budget training sequences.

The canonical LLM-pretraining packing step: documents are concatenated in a
deterministic order until the next document would overflow the context
budget, at which point a new bin (training sequence) starts.  Next-fit is
inherently sequential *within a shard*, so the operator runs as one
Arrow-batched ``applyInPandas`` pass per shard group — shards themselves
pack in parallel across executors, which is exactly how a 100 TB corpus is
packed in practice (per-shard sequential scan, shard-parallel fan-out).
A document larger than the budget gets a bin of its own (standard next-fit
behaviour) rather than being dropped or split.

No reference counterpart (the reference is a GIS ETL); this extends the
engine's training-data family (SURVEY.md §2 extension set).  The DuckDB
oracle expresses the identical recurrence as a recursive CTE, so the
operator is exact-checked despite being non-window-expressible.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def next_fit_bins(weights, budget: int) -> list[int]:
    """The pure next-fit recurrence (also the unit under the hypothesis
    invariants in tests/test_properties.py): bin ids in scan order."""
    bins: list[int] = []
    bin_id, fill = 0, 0
    for wt in weights:
        if fill > 0 and fill + wt > budget:
            bin_id, fill = bin_id + 1, 0
        fill += int(wt)
        bins.append(bin_id)
    return bins


def pack_sequences(
    df: DataFrame,
    weight_col: str,
    order_col: str,
    budget: int,
    by: str | None = None,
) -> DataFrame:
    """Assign each row a ``bin_id`` by greedy next-fit over ``weight_col``.

    Rows are scanned in ascending ``order_col`` order within each ``by``
    group (or globally in a single group when ``by`` is None — only sane
    for small frames); ``bin_id`` restarts at 0 per group.  Returns the
    input columns plus ``bin_id``.

    Parallelism equals the cardinality of ``by`` — at corpus scale pass a
    UNIFORM shard key, not a handful of source names: compose with
    ``shard_assignment``-style hash sharding (plans/hygiene.py) so each
    of N shards packs independently on its own executor.  Bins never span
    shards, which is exactly the production contract (training sequences
    are built per output shard).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")

    out_schema = T.StructType(
        df.schema.fields + [T.StructField("bin_id", T.LongType(), False)]
    )
    w, o = weight_col, order_col

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(o, kind="mergesort").reset_index(drop=True)
        pdf["bin_id"] = pd.Series(
            next_fit_bins(pdf[w].astype("int64"), budget), dtype="int64")
        return pdf

    if by is None:
        grouped = df.withColumn("__g", F.lit(0)).groupBy("__g")
        out_schema = T.StructType(
            [T.StructField("__g", T.IntegerType(), False)]
            + out_schema.fields
        )
        return grouped.applyInPandas(pack, out_schema).drop("__g")
    return df.groupBy(by).applyInPandas(pack, out_schema)


def pack_and_concat(df: DataFrame, text_col: str, weight_col: str,
                    order_col: str, budget: int, by: str,
                    separator: str = "\n") -> DataFrame:
    """The full sequence-packing output: documents packed next-fit into
    bins, then each bin's texts concatenated in scan order with
    ``separator`` (the EOS-joint step that actually feeds a tokenizer).

    Returns (``by``, bin_id, n_docs, total_weight, packed_text).  The
    concat is a per-bin ordered aggregation (sort_array over
    (order, text) structs — deterministic, no window), so the only
    sequential work remains the per-shard next-fit scan."""
    packed = pack_sequences(df, weight_col, order_col, budget, by=by)
    entry = F.struct(F.col(order_col).alias("o"),
                     F.col(text_col).alias("t"))
    return (packed.groupBy(by, "bin_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col(weight_col)).cast("long").alias("total_weight"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(entry)),
                         lambda s: s["t"]),
                     separator).alias("packed_text")))
