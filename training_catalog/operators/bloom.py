"""Bloom-filter pre-join pruning, hand-rolled in pure Catalyst.

The classic 100 TB decontamination shape: the benchmark side is small
(millions of shingles), the training side is enormous (trillions).  An
exact semi-join must shuffle BOTH sides on the shingle; a Bloom filter
built from the benchmark side and evaluated as a per-row EXPRESSION on
the training side drops ~99.9%% of training shingles before the shuffle,
so only candidates ship — Spark's own runtime bloom-filter join
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) made explicit and
predictable (the built-in rule only fires on selective creation-side
filters; this operator applies it by contract).

No false negatives (a member always passes — Bloom guarantee), so the
exact verify join AFTER the filter returns exactly the unfiltered
answer; false positives only cost wasted candidate rows, bounded by
``fpr ≈ (1 − e^{−k·n/m})^k``.

Mechanics: the filter is ``m`` bits packed into ``m/64`` longs.  Build =
one partial-aggregated pass over the keys (explode k positions →
groupBy(word) → bit_or — at most m/64 groups), collected to the driver
(bounded by the BITMAP size, never the key count) and re-shipped as an
array<long> literal.  Probe = ONE xxhash64 (double hashing over the
hash's lo/hi halves derives all k positions) + element_at + bitwiseAND
per row, short-circuiting on the first miss — whole-stage codegen, no
Python, no shuffle.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEFAULT_BITS = 1 << 17        # floor: 131072 bits = 2048 longs = 16 KiB
_MAX_BITS = 1 << 28            # cap: 32 MiB bitmap ≈ 37 M keys at k=5
_DEFAULT_HASHES = 5


def size_bits(n_keys: int, n_hashes: int = _DEFAULT_HASHES) -> int:
    """Bitmap size for ``n_keys`` build-side keys: m ≈ n·k/ln2 (the
    point where each of the k hashes fills ~half the bitmap, fpr ≈
    2^−k), rounded UP to a power of two so ``pmod`` stays cheap, with a
    16 KiB floor and a 32 MiB cap (the cap bounds the driver collect
    and the per-executor literal; past it the caller should shard the
    filter or fall back to the plain shuffle join)."""
    want = max(_DEFAULT_BITS, int(math.ceil(n_keys * n_hashes / math.log(2))))
    m = 1 << (want - 1).bit_length()
    return min(m, _MAX_BITS)


def _positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """k bit positions from ONE xxhash64 call (Kirsch–Mitzenmacher
    2006: g_i = h1 + i·h2 preserves the bloom fpr bound; h1/h2 are the
    low/high halves of the single 64-bit hash — the same split Spark's
    own sketch.BloomFilterImpl applies to its 64-bit Murmur3 hash, and
    Guava's BloomFilter to its 128-bit hash).  Hashing the key string
    dominates probe cost at millions of rows/s, so one call instead of
    two halves the hot-path price; the halves are independent because
    the cap is 2^28 < 2^32.  n_bits is a power of two (size_bits
    guarantees it), so `& (n_bits−1)` replaces pmod — and two's
    complement makes the bit-and of a NEGATIVE hash non-negative."""
    assert n_bits & (n_bits - 1) == 0
    mask = F.lit(n_bits - 1)
    # masking BEFORE the add keeps every term < n_bits ≤ 2^28 so the ANSI
    # overflow check can never fire; mod distributes over +/×, so the
    # position sequence equals (h1 + i·h2) mod n_bits exactly
    h = F.xxhash64(key)
    h1 = h.bitwiseAND(mask)
    h2 = (F.shiftrightunsigned(h, 32).bitwiseOR(F.lit(1))  # odd → full cycle
          .bitwiseAND(mask))
    return [(h1 + F.lit(i) * h2).bitwiseAND(mask)
            for i in range(n_hashes)]


def build_bloom_bits(df: DataFrame, key: Column,
                     n_bits: int | None = None,
                     n_hashes: int = _DEFAULT_HASHES) -> list[int]:
    """One aggregation pass over ``df``'s keys → the filter's backing
    longs (length n_bits/64).  The collect is bounded by the bitmap
    size (≤ n_bits/64 rows), NOT the key count.

    ``n_bits=None`` (the default) SIZES the bitmap from the build side:
    one ``approx_count_distinct`` pass picks m ≈ n·k/ln2 (see
    :func:`size_bits`), so the filter never silently saturates as the
    key set grows — a fixed bitmap at ~37× its design load has fpr ≈ 1
    and prunes nothing while still charging k hashes per probed row.
    After the build the measured load factor (set bits / m) is checked;
    > 0.5 (fpr ≥ 2^−k ≈ 3% at k=5 and climbing fast) emits a visible
    warning so a saturated filter can never hide."""
    if n_bits is None:
        n_keys = df.agg(
            F.approx_count_distinct(key).alias("n")).collect()[0]["n"]
        n_bits = size_bits(max(int(n_keys), 1), n_hashes)
    assert n_bits >= 64 and n_bits & (n_bits - 1) == 0  # pow2 positions
    pos = F.explode(F.array(*_positions(key, n_bits, n_hashes)))
    words = (df.select(pos.alias("__pos"))
             .select((F.col("__pos") / 64).cast("int").alias("__word"),
                     F.call_function(
                         "shiftleft", F.lit(1).cast("long"),
                         F.pmod(F.col("__pos"), 64).cast("int"))
                     .alias("__mask"))
             .groupBy("__word")
             .agg(F.bit_or("__mask").alias("__bits"))
             .collect())
    bits = [0] * (n_bits // 64)
    for r in words:
        bits[r["__word"]] = r["__bits"]
    load = sum((w & 0xFFFFFFFFFFFFFFFF).bit_count() for w in bits) / n_bits
    if load > 0.5:
        warnings.warn(
            f"bloom filter saturated: load factor {load:.2f} over "
            f"{n_bits} bits (fpr ≥ {load ** n_hashes:.3f}) — the probe "
            f"is pure overhead; size n_bits from the key count "
            f"(build_bloom_bits(n_bits=None)) or raise the cap",
            stacklevel=2)
    return bits


def might_contain(key: Column, bits: list[int],
                  n_hashes: int = _DEFAULT_HASHES) -> Column:
    """Membership-test EXPRESSION against a built filter: true for every
    inserted key (no false negatives), true for a non-member with
    probability ≈ fpr.  Pure Catalyst — evaluate it in a .filter()
    BEFORE an exact join to prune the big side's shuffle."""
    n_bits = len(bits) * 64
    # F.lit(list) expands to array(lit, lit, ...) exactly like the
    # explicit F.array form, and the optimizer constant-folds BOTH to a
    # single array literal before execution — the forms are
    # plan-equivalent; lit(list) is kept only because it issues one
    # py4j call at construction instead of ~n_bits/64
    arr = F.lit([int(w) for w in bits])
    cond = None
    for p in _positions(key, n_bits, n_hashes):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        mask = F.call_function("shiftleft", F.lit(1).cast("long"),
                               F.pmod(p, 64).cast("int"))
        hit = word.bitwiseAND(mask) != 0
        cond = hit if cond is None else cond & hit
    return cond


def bloom_semi_join(big: DataFrame, small: DataFrame, key_col: str,
                    n_bits: int | None = None,
                    n_hashes: int = _DEFAULT_HASHES) -> DataFrame:
    """EXACT left-semi join of ``big`` against ``small`` on ``key_col``,
    with a bloom pre-filter pruning big's shuffle to candidates.  The
    result equals ``big.join(small, key_col, "left_semi")`` exactly —
    the filter admits every true member and the verify join removes the
    false positives."""
    bits = build_bloom_bits(small, F.col(key_col), n_bits, n_hashes)
    candidates = big.filter(might_contain(F.col(key_col), bits, n_hashes))
    return candidates.join(small.select(key_col).distinct(), key_col,
                           "left_semi")
