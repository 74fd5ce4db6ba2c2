"""Explicit semi-join reduction ("runtime filter") — prune a huge probe
side down to rows that MIGHT match a small build side before the real
join, the optimization Spark's own runtime Bloom filter
(``spark.sql.optimizer.runtime.bloomFilter.enabled``, on by default)
injects for scan-to-scan joins but cannot inject here: the
decontamination scan joins two slices of the SAME exploded posting
list, which the optimizer sees as one plan subtree.

Pure Catalyst single-hash filter (a k=1 Bloom): bucket every build-side
key with ``xxhash64 mod m``, broadcast the distinct bucket set (≤ m
longs — choose m ≈ 64× the build-side key count for a ~1.6% false-pass
rate), left-semi join the probe on its bucket.  No false negatives by
construction (same hash, same mod); false passes are eliminated by the
exact join that follows — result equality is pinned in
``tests/test_scale_operators.py``.

At 100 TB this is the difference between shuffling the full training
posting list (trillions of shingles) into the contamination join and
shuffling only the ~benchmark-sized sliver that shares a bucket: the
probe-side reduction is (1 − n_build·64⁻¹·…) ≈ 98% for disjoint
corpora, and the filter itself is one broadcast of the bucket set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_semi_filter(probe: DataFrame, build: DataFrame,
                       key: str | Column, m_buckets: int = 1 << 20,
                       seed: int = 42) -> DataFrame:
    """Rows of ``probe`` whose key lands in a bucket occupied by any
    ``build`` key.  Superset of the true matches; never drops one."""
    key_col = F.col(key) if isinstance(key, str) else key
    bucket = F.pmod(F.xxhash64(key_col, F.lit(seed)), F.lit(m_buckets))
    occupied = (build.select(bucket.alias("__bucket")).distinct())
    return (probe.withColumn("__bucket", bucket)
            .join(F.broadcast(occupied), "__bucket", "left_semi")
            .drop("__bucket"))
