"""Deterministic hash-based sampling — reproducible corpus subsetting.

``df.sample()`` is seeded per-partition, so the selected rows change
whenever the input's partitioning changes — useless for a 100 TB corpus
that must yield the SAME sample on every rerun, engine, and cluster layout.
The standard fix (used by every large-scale corpus pipeline) is to hash a
stable row key and keep rows whose hash falls below the fraction threshold:

    keep  ⇔  md5(salt ‖ key)[:4]  <  hex(floor(fraction · 16^4))

Properties that matter at scale:
- narrow transformation: no shuffle, no driver state, evaluated inside
  whole-stage codegen right after the scan (filter pushes to the row level);
- engine-portable: md5 of the UTF-8 key bytes is identical in Spark, DuckDB,
  or anything else, so a sample drawn here is reproducible elsewhere —
  which also makes it oracle-checkable;
- salt gives independent draws: disjoint salts → independent samples
  (e.g. train/validation splits that provably never overlap per salt pair
  when thresholds partition the hash space).

The 4-hex-digit prefix gives fraction granularity 1/65536 ≈ 0.0015%%, plenty
for split ratios; widen ``_PREFIX`` for finer control.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PREFIX = 4  # hex digits of the md5 compared against the threshold


def _threshold(fraction: float) -> str:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    raw = int(fraction * (16 ** _PREFIX))
    if raw >= 16 ** _PREFIX:
        # keep-all: the bound is exclusive, so return a supremum that every
        # hex prefix sorts below ('g' > 'f' > any hex digit)
        return "g"
    return format(raw, f"0{_PREFIX}x")


def _bucket(key: Column, salt: str) -> Column:
    return F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))),
                       1, _PREFIX)


def hash_sample(df: DataFrame, key: str | Column, fraction: float,
                salt: str = "") -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows, selected by stable key."""
    key = F.col(key) if isinstance(key, str) else key
    return df.filter(_bucket(key, salt) < _threshold(fraction))


def stratified_hash_sample(df: DataFrame, key: str | Column, strata: str,
                           fractions: Mapping[str, float],
                           default: float = 0.0,
                           salt: str = "") -> DataFrame:
    """Per-stratum deterministic sampling: rows in stratum ``s`` survive
    with probability ``fractions[s]`` (``default`` for unlisted strata).
    Used for source-weighted corpus mixing (e.g. upsample curated sources,
    downsample crawl)."""
    thresh = F.lit(_threshold(default))
    for value, frac in sorted(fractions.items()):
        thresh = F.when(F.col(strata) == value,
                        F.lit(_threshold(frac))).otherwise(thresh)
    key = F.col(key) if isinstance(key, str) else key
    return df.filter(_bucket(key, salt) < thresh)


def cap_per_group(df: DataFrame, key: str | Column, group: str,
                  cap: int, salt: str = "",
                  skew_buckets: int = 32) -> DataFrame:
    """Keep at most ``cap`` rows per ``group``, selected deterministically —
    the RefinedWeb-style per-domain cap that stops a handful of mega-hosts
    (or boilerplate-heavy sources) from dominating a pretraining mix.

    Which rows survive is decided by ranking on ``md5(salt ‖ key)`` with the
    key as tie-break: an unbiased pseudo-random sample of each group that is
    identical on every engine, rerun, and cluster layout (and therefore
    oracle-checkable).  ``key`` must be unique per row for the order to be
    total.

    Scale shape — the naive plan is one ``row_number() OVER (PARTITION BY
    group)`` window, i.e. a full shuffle on ``group`` where the hottest
    domain lands in ONE task (exactly the skew this operator exists to
    correct).  Instead: classic two-phase top-k.  Phase 1 windows over
    ``(group, key-hash % skew_buckets)`` — a mega-domain splits across
    ``skew_buckets`` tasks — and keeps ≤cap per bucket; phase 2 re-ranks the
    ≤ skew_buckets·cap survivors per group, a tiny window.  The result is
    exactly the global per-group top-cap (each bucket's top-cap is a
    superset of its members of the global top-cap), proven equal to the
    single-window plan in tests/test_training_ops.py.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    from pyspark.sql import Window

    key = F.col(key) if isinstance(key, str) else key
    pre = (df.withColumn("__rk",
                         F.md5(F.concat(F.lit(salt), key.cast("string"))))
           .withColumn("__tie", key.cast("string"))
           .withColumn("__b", F.pmod(F.hash(key), F.lit(skew_buckets))))
    w1 = (Window.partitionBy(F.col(group), F.col("__b"))
          .orderBy("__rk", "__tie"))
    survivors = (pre.withColumn("__rn", F.row_number().over(w1))
                 .filter(F.col("__rn") <= cap))
    w2 = Window.partitionBy(F.col(group)).orderBy("__rk", "__tie")
    return (survivors.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") <= cap)
            .drop("__rk", "__tie", "__b", "__rn"))


def _uniform_int(key: Column, salt: str) -> Column:
    """Deterministic uniform integer in [0, 65535] from the md5 prefix.

    Digit-by-digit hex decode via ascii() — deliberately expressible in
    identical form on any engine (DuckDB has no hex→int conv), so
    temperature sampling below stays exactly oracle-checkable."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))

    def hv(i: int) -> Column:
        a = F.ascii(F.substring(h, i, 1))
        return a - 48 - F.when(a >= 97, F.lit(39)).otherwise(F.lit(0))

    return ((hv(1) * 16 + hv(2)) * 16 + hv(3)) * 16 + hv(4)


def temperature_mixture_sample(df: DataFrame, key: str | Column,
                               strata: str, weight_col: str,
                               budget_num: int, budget_den: int,
                               alpha: float = 0.5,
                               salt: str = "") -> DataFrame:
    """Temperature-based source mixing — THE pretraining corpus-mixture
    op: sampling weight of stratum ``s`` ∝ (token count T_s)^α, so α<1
    upsamples small curated sources relative to bulk crawl.  The global
    token budget is ``budget_num/budget_den`` of the corpus total; each
    stratum gets budget share w_s = T_s^α / Σ T^α and keeps documents
    with probability min(1, budget·w_s / T_s) via the stable per-key
    hash.

    Exactness: the keep decision is ONE integer inequality —
    ``u · Σr · T_s < B · r_s · 65536`` with r_s = floor(√T_s) (α=0.5) or
    T_s (α=1) — no float thresholds anywhere, so the identical SQL
    reproduces the sample bit-for-bit (and the DuckDB oracle checks it).
    Only α ∈ {0.5, 1.0} are supported for that reason.

    Scale shape: one tiny per-stratum aggregate (broadcast back), then a
    narrow filter — no shuffle of the corpus itself.
    """
    if alpha not in (0.5, 1.0):
        raise ValueError("alpha must be 0.5 or 1.0 (exact integer paths)")
    if budget_num <= 0 or budget_den <= 0:
        raise ValueError("budget fraction must be positive")
    key = F.col(key) if isinstance(key, str) else key

    totals = (df.groupBy(strata)
              .agg(F.sum(weight_col).cast("long").alias("__tok")))
    r = (F.floor(F.sqrt(F.col("__tok"))).cast("long")
         if alpha == 0.5 else F.col("__tok"))
    s = totals.withColumn("__r", r)
    g = s.agg(F.sum("__r").cast("long").alias("__sum_r"),
              F.sum("__tok").cast("long").alias("__total"))
    joined = (df.join(F.broadcast(s), strata)
              .crossJoin(F.broadcast(g)))
    budget = F.expr(f"__total * {budget_num} DIV {budget_den}")
    keep = (_uniform_int(key, salt) * F.col("__sum_r") * F.col("__tok")
            < budget * F.col("__r") * F.lit(65536))
    return joined.filter(keep).drop("__tok", "__r", "__sum_r", "__total")


def temperature_mixture_repeat(df: DataFrame, key: str | Column,
                               strata: str, weight_col: str,
                               budget_num: int, budget_den: int,
                               alpha: float = 0.5,
                               salt: str = "") -> DataFrame:
    """Temperature mixing WITH repetition — the full pretraining
    behavior: when a stratum's budget share exceeds its size, its
    documents repeat (multiple epochs) instead of capping at one copy.

    Per-document multiplicity is exact integer math on the rational
    f_s = p/q (p = B·r_s, q = Σr·T_s):

        copies = ⌊p/q⌋ + [u·q < (p mod q)·65536]

    so E[copies] = f_s, every engine reproduces the identical copy
    counts, and the DuckDB oracle checks them row-for-row.  Output adds
    an ``epoch`` column (1-based copy index) so downstream shuffling
    treats repeats as distinct rows.
    """
    if alpha not in (0.5, 1.0):
        raise ValueError("alpha must be 0.5 or 1.0 (exact integer paths)")
    key = F.col(key) if isinstance(key, str) else key

    totals = (df.groupBy(strata)
              .agg(F.sum(weight_col).cast("long").alias("__tok")))
    r = (F.floor(F.sqrt(F.col("__tok"))).cast("long")
         if alpha == 0.5 else F.col("__tok"))
    s = totals.withColumn("__r", r)
    g = s.agg(F.sum("__r").cast("long").alias("__sum_r"),
              F.sum("__tok").cast("long").alias("__total"))
    joined = (df.join(F.broadcast(s), strata)
              .crossJoin(F.broadcast(g)))
    p = F.expr(f"__total * {budget_num} DIV {budget_den}") * F.col("__r")
    q = F.col("__sum_r") * F.col("__tok")
    # integer ⌊p/q⌋ via pmod (both operands are exact sub-2^53 longs)
    base = ((p - F.pmod(p, q)) / q).cast("long")
    extra = (F.when(_uniform_int(key, salt) * q < F.pmod(p, q) * 65536,
                    F.lit(1)).otherwise(F.lit(0)))
    copies = (base + extra).alias("__copies")
    out = (joined.withColumn("__copies", copies)
           .filter(F.col("__copies") >= 1)
           .withColumn("epoch",
                       F.explode(F.sequence(F.lit(1), F.col("__copies"))))
           .drop("__tok", "__r", "__sum_r", "__total", "__copies"))
    return out
