"""Exact distributed quantiles — percentile_cont semantics built from one
sort-shuffle plus a broadcast rank lookup.

``percentile_approx`` (t-digest) is the right default at 100 TB, but
training-data curation needs exact cut points surprisingly often (dedup
thresholds, length caps, contamination cutoffs are defined as exact
percentiles of a score distribution).  Spark's builtin exact ``percentile``
collects one hash map per group per partial — this operator instead:

1. ranks values per group with one ``row_number`` window (the unavoidable
   sort-shuffle — exactness requires a total order per group);
2. computes, per (group, prob), the target rank ``k = floor(p·(n-1))`` and
   interpolation fraction from the tiny per-group count table;
3. joins that broadcast-sized target table back to the ranked rows on
   (group, rn ∈ {k, k+1}) — a broadcast probe, no second shuffle, no row
   explosion — and linearly interpolates.

All interpolation arithmetic is exact when inputs are integers and probs
are dyadic/quarter fractions (p·(n−1), frac, frac·(b−a) are all exactly
representable doubles), which makes the result bit-identical across engines
— the catalog query exploits that for its DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_quantiles(df: DataFrame, value: str, groups: Sequence[str],
                    probs: Sequence[float]) -> DataFrame:
    """percentile_cont(``probs``) of ``value`` per ``groups``; returns one
    row per (group, prob): ``(*groups, p, q)``."""
    gcols = [F.col(g) for g in groups]
    w = Window.partitionBy(*[F.col(g) for g in groups]).orderBy(F.col("__v"))
    ranked = (df.select(*gcols, F.col(value).alias("__v"))
              .withColumn("__rn", F.row_number().over(w) - 1))

    targets = (df.groupBy(*gcols).agg(F.count("*").alias("__n"))
               .select(*gcols, "__n",
                       F.explode(F.array(*[F.lit(float(p)) for p in probs]))
                       .alias("p"))
               .withColumn("__pos", F.col("p") * (F.col("__n") - 1))
               .withColumn("__k", F.floor("__pos").cast("long"))
               .withColumn("__frac", F.col("__pos") - F.col("__k")))

    hit = ((F.col("__rn") == F.col("__k"))
           | ((F.col("__frac") > 0) & (F.col("__rn") == F.col("__k") + 1)))
    cand = ranked.join(F.broadcast(targets), [*groups], "inner").filter(hit)

    at_k = F.min(F.when(F.col("__rn") == F.col("__k"), F.col("__v")))
    at_k1 = F.min(F.when(F.col("__rn") == F.col("__k") + 1, F.col("__v")))
    return (cand.groupBy(*gcols, "p", "__frac")
            .agg(at_k.alias("__a"), at_k1.alias("__b"))
            .withColumn("__b", F.coalesce("__b", "__a"))
            .select(*gcols, "p",
                    (F.col("__a")
                     + F.col("__frac") * (F.col("__b") - F.col("__a")))
                    .alias("q")))
