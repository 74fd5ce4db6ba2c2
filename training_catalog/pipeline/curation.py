"""End-to-end corpus curation — the training-data analogue of
``pipeline/prepare.py``: one composed pass that takes a raw document
table to a training-ready verdict per document:

    benchmark split ▶ quality gate ▶ exact dedup (keep-first)
                    ▶ benchmark decontamination ▶ shard assignment

Every stage is the EXACT member of its operator family (the approximate
scale twins — MinHash, SimHash, sketches — live in ``operators/dedup``
etc. and slot in per-stage), so the whole pipeline remains
DuckDB-oracle-checkable end to end: one row per input document with
``kept``, the first ``drop_reason`` in precedence order
(benchmark → quality → duplicate → contaminated), and the final
``(shard_id, pos)`` serving coordinates for survivors.

Scale shape per stage (each is the already-audited catalog shape):
- quality: pure BIGINT whole-stage-codegen expression, no shuffle;
- exact dedup: one shuffle on the content digest, keep-first window
  over digest groups (duplicate-group-sized partitions);
- decontamination: the probe posting is pre-reduced by the broadcast
  ``bucket_semi_filter`` (k=1 Bloom, no false negatives) before the
  exact semi-join on benchmark shingles — the optimizer cannot inject
  a runtime filter here (one plan subtree), so the operator does;
- sharding: md5-derived shard + per-shard windows, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.runtime_filter import bucket_semi_filter

QUALITY_MIN_E6 = 300_000     # ≈ the corpus 8th percentile — the low tail
BENCH_MOD = 29               # doc_id % 29 == 0 → held-out benchmark slice
SHINGLE_N = 5   # 5-grams: the decontamination width real pipelines use
# (3-grams over-trigger: 70% of this corpus shares some 3-gram with the
# benchmark slice; at 5 the contaminated set is the genuine overlap tail)
N_SHARDS = 8


def curate(docs: DataFrame, id_col: str = "doc_id",
           text_col: str = "text",
           quality_min_e6: int = QUALITY_MIN_E6,
           bench_mod: int = BENCH_MOD,
           n_shards: int = N_SHARDS) -> DataFrame:
    """(doc_id, source, kept, drop_reason, shard_id, pos) per input doc."""
    text = F.col(text_col)
    # the quality score in pure BIGINT arithmetic (integer `div`, never a
    # double floor — see plans/coverage.quality_docs for why)
    prepared = docs.select(
        F.col(id_col).alias("doc_id"), "source", text.alias("__text"),
        (F.col(id_col) % bench_mod == 0).alias("__bench"),
        F.least(T.token_count(text).cast("long"),
                F.lit(64).cast("long")).alias("__tok_c"),
        (F.length(text).cast("long")
         - F.length(F.regexp_replace(text, "[a-zA-Z0-9 ]", ""))
         .cast("long")).alias("__non_punct"),
        F.length(text).cast("long").alias("__len"))
    base = prepared.select(
        "doc_id", "source", "__text", "__bench",
        F.expr("CASE WHEN __len > 0 THEN "
               "(__tok_c * __non_punct * 1000000L) div (64L * __len) "
               "ELSE 0L END").alias("__q"))

    # exact dedup among quality-passing non-benchmark docs: keep-first
    # by doc_id within each content-digest group
    pool = base.filter(~F.col("__bench")
                       & (F.col("__q") >= quality_min_e6))
    rn = F.row_number().over(
        Window.partitionBy(F.md5("__text")).orderBy("doc_id"))
    pool_rn = pool.withColumn("__rn", rn)
    dups = pool_rn.filter(F.col("__rn") > 1).select("doc_id")

    # decontamination: any distinct word-5-gram shared with the
    # benchmark slice.  The probe is ONLY the surviving pool
    # (quality-passing, first-of-digest): benchmark / quality-failing /
    # duplicate docs take an earlier drop_reason in the precedence
    # `when` chain below, so their contamination verdict is always
    # masked — probing them would be wasted work on the pipeline's
    # largest shuffle (the shingle posting), and a duplicate's verdict
    # equals its keeper's anyway (same text ⇒ same shingles).  Output is
    # identical to probing all non-benchmark docs.  Bloom pre-reduction,
    # then the exact semi-join.
    bench_sh = (base.filter("__bench")
                .select(F.explode(F.array_distinct(
                    T.word_shingles(T.words(F.col("__text")),
                                    SHINGLE_N))).alias("shingle"))
                .distinct())
    probe = (pool_rn.filter(F.col("__rn") == 1)
             .select("doc_id",
                     F.explode(F.array_distinct(
                         T.word_shingles(T.words(F.col("__text")),
                                         SHINGLE_N))).alias("shingle")))
    contaminated = (bucket_semi_filter(probe, bench_sh, "shingle")
                    .join(bench_sh, "shingle", "left_semi")
                    .select("doc_id").distinct())

    verdict = (base
               .join(dups.withColumn("__dup", F.lit(True)), "doc_id",
                     "left")
               .join(contaminated.withColumn("__cont", F.lit(True)),
                     "doc_id", "left")
               .withColumn("drop_reason", F.when(
                   F.col("__bench"), "benchmark").when(
                   F.col("__q") < quality_min_e6, "quality").when(
                   F.coalesce("__dup", F.lit(False)), "duplicate").when(
                   F.coalesce("__cont", F.lit(False)), "contaminated"))
               .withColumn("kept", F.col("drop_reason").isNull()))

    h = F.md5(F.col("doc_id").cast("string"))
    shard = F.pmod(F.ascii(F.substring(h, 1, 1)) * 256
                   + F.ascii(F.substring(h, 2, 1)), F.lit(n_shards))
    kept = (verdict.filter("kept")
            .select("doc_id", h.alias("__h"), shard.alias("shard_id")))
    w = Window.partitionBy("shard_id").orderBy("__h", "doc_id")
    coords = kept.withColumn("pos", F.row_number().over(w)) \
        .select("doc_id", "shard_id", "pos")

    return (verdict.join(coords, "doc_id", "left")
            .select("doc_id", "source", "kept", "drop_reason",
                    "shard_id", "pos"))
