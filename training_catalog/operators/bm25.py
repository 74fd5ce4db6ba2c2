"""BM25 top-k retrieval over a document corpus — pure Catalyst, no UDFs.

Completes the text-relevance family (``operators/tfidf.py``): the standard
use in a training-data pipeline is retrieval-based decontamination and
targeted corpus slicing ("pull the top-k documents per benchmark query"),
which needs a real ranking function, not just posting weights.

Scale design (same skeleton as tfidf, one extra broadcast):
- tokenize → (doc_id, term, tf) is ONE shuffle (map-side-partial groupBy);
  doc lengths are a projection of the same tokenization; document
  frequency is a vocabulary-sized aggregate of the postings.
- the query set is tiny by construction (benchmark suites, probe lists) —
  its exploded terms BROADCAST onto the posting list, so candidate
  generation touches only postings whose term appears in some query:
  no per-query corpus scan, no crossJoin.
- corpus constants (N docs, total token count) ride along as a broadcast
  1-row aggregate, never a driver collect.
- scoring + top-k: per-(query, doc) sum then a row_number window
  partitioned by query — the shuffle is bounded by candidate postings,
  orders of magnitude below the corpus.

Two scoring variants (k1 = 1.2, b = 0.75, the standard defaults):
- ``log``  : idf = ln(1 + (N − df + 0.5)/(df + 0.5)) — the real ranking
  path (Robertson/Sparck-Jones BM25+ style, always positive).
- ``exact``: idf = (N − df + ½)/(df + ½) (linear), and the whole per-term
  score is evaluated as ONE correctly-rounded division of two exact int64
  products, then quantized to 1e-6 and summed as integers — deterministic
  under any aggregation order and reproducible cross-engine, the
  oracle-checkable path (the tfidf ``ratio`` trick extended to BM25's
  length normalization):

      score_term = (2N−2df+1) · 22·T·tf
                   ───────────────────────────────── ,  T = Σ dl (so
                   (2df+1) · (10·T·tf + 3·T + 9·dl·N)   avgdl = T/N)

  which is the exact rational value of idf·tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl))
  for k1 = 6/5, b = 3/4.  Products stay int64-exact to ~1e12-token corpora;
  beyond that use ``log`` (rank-equivalent in practice, cheaper anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .tfidf import term_frequencies, terms


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              query_id_col: str = "query_id",
              query_text_col: str = "query_text",
              variant: str = "log") -> DataFrame:
    """Top-``k`` docs per query by BM25; returns
    (query_id, rank, doc_id, score), rank 1-based, ties broken by doc_id.

    Each distinct query term counts once (duplicate terms in a query do not
    multiply the contribution — the standard bag-of-*unique*-terms form).
    """
    postings = term_frequencies(docs, id_col, text_col)
    dl = docs.select(F.col(id_col).alias("doc_id"),
                     F.size(terms(F.col(text_col))).alias("dl"))
    stats = (dl.agg(F.count("*").alias("__n"),
                    F.sum("dl").alias("__t"))
             .withColumn("__j", F.lit(1)))
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))

    qterms = (queries
              .select(F.col(query_id_col).alias("query_id"),
                      F.explode(terms(F.col(query_text_col))).alias("term"))
              .distinct())

    cand = (postings.join(F.broadcast(qterms), "term")
            .join(dl, "doc_id")
            .join(dfreq, "term")
            .withColumn("__j", F.lit(1))
            .join(F.broadcast(stats), "__j"))

    n, t = F.col("__n"), F.col("__t")
    tf, df, dlc = F.col("tf"), F.col("df"), F.col("dl")
    if variant == "exact":
        num = (2 * n - 2 * df + 1) * (22 * t * tf)
        den = (2 * df + 1) * (10 * t * tf + 3 * t + 9 * dlc * n)
        s_int = F.round(num / den * 1_000_000, 0).cast("long")
        scored = (cand.groupBy("query_id", "doc_id")
                  .agg(F.sum(s_int).alias("__s_int"))
                  .withColumn("score", F.col("__s_int") / F.lit(1_000_000.0))
                  .withColumn("__ord", F.col("__s_int")))
    elif variant == "log":
        idf = F.log(1.0 + (n - df + 0.5) / (df + 0.5))
        norm = tf + 1.2 * (1.0 - 0.75 + 0.75 * dlc * n / t)
        s = idf * tf * 2.2 / norm
        scored = (cand.groupBy("query_id", "doc_id")
                  .agg(F.sum(s).alias("score"))
                  .withColumn("__ord", F.col("score")))
    else:
        raise ValueError(f"unknown BM25 variant: {variant}")

    w = Window.partitionBy("query_id").orderBy(
        F.col("__ord").desc(), F.col("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))
