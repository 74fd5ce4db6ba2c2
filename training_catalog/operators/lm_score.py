"""Corpus-trained bigram language-model scoring — the perplexity-style
quality signal (CCNet / Gopher / FineWeb pipelines score documents with a
small LM trained on a trusted corpus and drop the high-perplexity tail).

Pure Catalyst: tokenization is the shared ASCII regex (``tfidf.terms``),
the model is two aggregations, scoring is one join — no UDFs anywhere.

Scale design (100 TB):
- the posting list (doc_id, prev, w) is one explode of the token array —
  no shuffle until the model aggregations, both of which are map-side
  partial (groupBy on (prev, w) / prev);
- the MODEL is vocabulary-bounded (distinct observed bigrams ≪ corpus
  tokens: a few hundred million rows for web-scale English), orders of
  magnitude smaller than the corpus, so the score join shuffles the
  posting list once on (prev, w) and AQE broadcasts the model when it
  fits — the same join shape as ``tfidf``'s df table;
- per-document reduction is a map-side-partial groupBy on doc_id.
- training on a TRUSTED SUBSET (the real CCNet setup) is a ``filter``
  on the model-building input; the scored corpus stays the full table.

Determinism note: per-token ``ln`` terms are IEEE doubles summed by
partial aggregation, so the last-ulp sum depends on partition order; the
per-document mean is rounded (default 4 decimals) before comparison,
making cross-engine agreement probabilistic in the same measure-zero
sense as ``operators/kmeans.py`` (a mean landing within ~1e-13 of a
rounding boundary).

Smoothing is add-k with an exact rational k = ``k_num/k_den`` (default
1/2): P(w | prev) = (c(prev,w) + k) / (c(prev) + k·V) where V is the
observed vocabulary size.  Both numerator and denominator are exact
(integer + half-integer) so the only float ops are one division and one
``ln`` per distinct (prev, w) — the fewest rounding sites possible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tfidf import terms

BOS = "<s>"


def bigram_pairs(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, prev, w) for every token, with a BOS context for the
    first token of each document.  Documents with no tokens drop out."""
    toks = terms(F.col(text_col))
    prevs = F.concat(F.array(F.lit(BOS)),
                     F.slice(toks, 1, F.greatest(F.size(toks) - 1,
                                                 F.lit(0))))
    return (docs
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(F.arrays_zip(prevs.alias("prev"),
                                           toks.alias("w")))
            .alias("z"))
            .select("doc_id", F.col("z.prev").alias("prev"),
                    F.col("z.w").alias("w"))
            # arrays_zip null-pads to the longer array: a token-less
            # document zips ["<s>"] against [] into one (prev, null) row
            .filter(F.col("w").isNotNull()))


def bigram_model(pairs: DataFrame) -> tuple[DataFrame, DataFrame,
                                            DataFrame]:
    """(bigram counts, context counts, scalar stats): the LM.

    Kept as SEPARATE tables — scoring joins each independently so that an
    unseen (prev, w) under a SEEN context still smooths against the real
    c(prev) (folding c_prev into the bigram table would zero it for
    exactly the unseen bigrams smoothing exists for).  stats is a 1-row
    (``__v``, ``__j``) vocabulary-size DataFrame for the denominator.
    """
    big = pairs.groupBy("prev", "w").agg(F.count("*").alias("c_bigram"))
    ctx = pairs.groupBy("prev").agg(F.count("*").alias("c_prev"))
    stats = (pairs.select(F.countDistinct("w").alias("__v"))
             .withColumn("__j", F.lit(1)))
    return big, ctx, stats


def bigram_logprob(docs: DataFrame, model_docs: DataFrame | None = None,
                   id_col: str = "doc_id", text_col: str = "text",
                   k_num: int = 1, k_den: int = 2,
                   round_dec: int = 4) -> DataFrame:
    """(doc_id, n_tokens, avg_logp): mean ln P(w|prev) per document under
    the add-k-smoothed bigram model trained on ``model_docs`` (default:
    the scored corpus itself — self-perplexity, the repetition/outlier
    signal).  Higher avg_logp = more typical text; the quality filter
    drops the low tail."""
    # NO spread_input (tried in the r12 campaign, reverted): the two
    # consumers (lm_perplexity_docs, ppl_bucket_docs) both measured
    # SLOWER with it in the isolated A/B (2.26 -> 2.74 / 1.71 -> 2.52 s
    # medians) — the broadcast-model scoring joins are too light for the
    # extra round-robin Exchange at bench scale (see OPTIMIZATION_r12.md
    # "spread_input re-measure")
    pairs = bigram_pairs(docs, id_col, text_col)
    model_pairs = (pairs if model_docs is None
                   else bigram_pairs(model_docs, id_col, text_col))
    big, ctx, stats = bigram_model(model_pairs)

    # ln((k_den·c_bigram + k_num) / (k_den·c_prev + k_num·V)): exact
    # integer numerator and denominator, one division + one ln per
    # scored token.  Under a foreign model an unseen (prev, w) with a
    # SEEN context smooths against the real c(prev); an unseen context
    # (c_prev = 0) falls to the uniform 1/V floor.
    scored = (pairs
              .join(big, ["prev", "w"], "left")
              .join(ctx, "prev", "left")
              .withColumn("__j", F.lit(1))
              .join(F.broadcast(stats), "__j")
              .withColumn(
                  "logp",
                  F.log((F.coalesce(F.col("c_bigram"), F.lit(0))
                         * k_den + k_num)
                        / (F.coalesce(F.col("c_prev"), F.lit(0))
                           * k_den + k_num * F.col("__v")))))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.round(F.sum("logp") / F.count("*"),
                         round_dec).alias("avg_logp")))
