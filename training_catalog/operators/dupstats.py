"""Duplication diagnostics — the measurement side of dedup: per-document
fraction of word n-grams shared with ANY other document (the "fraction
of duplicated n-grams" metric dedup papers report before/after a pass,
e.g. Lee et al. 2022 §4).

Pure Catalyst, no UDFs.  Scale design: the shingle posting list shuffles
once on the content shingle (the same key the n-gram dedup join uses —
at 100 TB the two share a bucketing); the per-shingle document-frequency
table aggregates map-side-partial, and the per-doc rollup is a second
map-side-partial groupBy on doc_id.  No all-pairs anywhere.

``dup_frac`` is a single correctly-rounded division of exact integers
(distinct-shingle counts), so values are bit-identical across engines —
no rounding needed (same exactness argument as ``tfidf``'s ratio idf).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_shingles, words


def dup_ngram_stats(docs: DataFrame, n: int = 5, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(doc_id, n_shingles, n_dup, dup_frac): of a document's DISTINCT
    word n-grams, how many occur in at least one OTHER document.
    Documents with fewer than n words report 0 shingles and dup_frac 0.
    """
    posting = (docs
               .select(F.col(id_col).alias("doc_id"),
                       F.explode(F.array_distinct(
                           word_shingles(words(F.col(text_col)), n)))
                       .alias("shingle")))
    docfreq = posting.groupBy("shingle").agg(
        F.count("*").alias("df"))          # posting is distinct per doc
    per_doc = (posting.join(docfreq, "shingle")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_shingles"),
                    F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                    .alias("n_dup")))
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (base.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
                    F.coalesce("n_dup", F.lit(0)).alias("n_dup"))
            .withColumn(
                "dup_frac",
                F.when(F.col("n_shingles") > 0,
                       F.col("n_dup").cast("double")
                       / F.col("n_shingles")).otherwise(F.lit(0.0))))
