"""TF-IDF term weighting over a document corpus — pure Catalyst, no UDFs.

Complements the text-analysis family (``functions/text.py``: langid,
quality, token counts, fingerprints) with the classic relevance /
keyword-extraction weighting a corpus pipeline uses for topic filtering and
near-dup candidate features.

Scale design: tokenization and term-frequency aggregation shuffle once on
(doc_id is already the partition key of the explode's parent, so tf is a
map-side-partial groupBy); document frequency is a second aggregation on
term.  The df table is vocabulary-sized — orders of magnitude smaller than
the posting list — and joins back to tf on term as a standard shuffle-hash
join (AQE picks broadcast when the vocabulary fits).  The corpus size N is
a 1-row aggregate broadcast into the expression, never a driver collect.

Two idf variants:
- ``log``  : idf = ln((N+1)/(df+1)) + 1 (smoothed, the sklearn form) — the
  one to use for real ranking;
- ``ratio``: idf = N/df, linear.  tf·N is an exact integer and the single
  division is correctly rounded, so scores are bit-identical across engines
  — the oracle-checkable variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_RE = "[a-z]+"


def terms(text: Column) -> Column:
    """Lower-cased alphabetic terms; ASCII regex keeps Spark (Java regex)
    and any oracle engine (RE2/PCRE) byte-for-byte agreed."""
    return F.regexp_extract_all(F.lower(text), F.lit(WORD_RE), 0)


def term_frequencies(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) posting list."""
    return (docs
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(terms(F.col(text_col))).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf")))


def tfidf(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
          variant: str = "log") -> DataFrame:
    """(doc_id, term, tf, df, tfidf) for every posting."""
    tf = term_frequencies(docs, id_col, text_col)
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(
        F.count("*").alias("__n")).withColumn("__j", F.lit(1))
    tf = tf.withColumn("__j", F.lit(1)).join(F.broadcast(n_docs), "__j")

    joined = tf.join(df_tbl, "term")
    if variant == "log":
        score = F.col("tf") * (
            F.log((F.col("__n") + 1) / (F.col("df") + 1)) + 1)
    elif variant == "ratio":
        # tf·N is an exact integer; one correctly-rounded division —
        # bit-identical on any engine.
        score = (F.col("tf") * F.col("__n")) / F.col("df")
    else:
        raise ValueError(f"unknown idf variant: {variant}")
    return joined.select("doc_id", "term", "tf", "df",
                         score.alias("tfidf"))
