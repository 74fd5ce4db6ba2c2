"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
score every raw document by how target-like its hashed-n-gram
distribution is, then gumbel-top-k sample the training subset.

The pipeline op that picks "quality web text that looks like Wikipedia"
without a trained classifier: build add-½-smoothed unigram-of-buckets
models over hashed bigram features for the TARGET slice and the RAW
corpus, log importance weight of a doc = Σ_features ln(p_target/p_raw),
add per-doc Gumbel noise g = −ln(−ln(u)) from the deterministic md5
uniform (``operators/sampling._uniform_int`` — identical on any
engine), and keep the top k by (rounded score, doc_id).

Scale design (100 TB):
- features are the ``lm_score.bigram_pairs`` explode — no shuffle until
  the bucket aggregation, which is ``n_buckets``-bounded (the whole
  point of DSIR's hashing: the model is O(B), not O(vocab²)) and
  broadcast back onto the posting list;
- per-doc reduction is a map-side-partial groupBy;
- the top-k is a window over DOC-count-sized scores (already orders of
  magnitude smaller than the corpus); at extreme doc counts swap the
  rank for a threshold from ``exact_quantiles`` on the score column.

Determinism: bucket ids and u come from md5 (engine-portable by digit
decode), counts are exact integers, and the score rounds to
``round_dec`` before ranking with a doc_id tie-break — cross-engine
agreement is probabilistic only through the summed-ln drift, the same
measure-zero class as ``operators/kmeans.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lm_score import bigram_pairs
from .sampling import _uniform_int


def dsir_select(docs: DataFrame, target: Column, k: int,
                n_buckets: int = 256, id_col: str = "doc_id",
                text_col: str = "text", salt: str = "dsir",
                round_dec: int = 4) -> DataFrame:
    """(doc_id, n_feats, score, kept): gumbel-top-k importance selection.

    ``target`` is a boolean Column over ``docs`` marking the target
    slice (e.g. ``F.col("lang") == "en"``).  Token-less documents have
    no features and drop out (they cannot be scored).
    """
    from .barrier import materialize

    bucket_of = (_uniform_int(F.concat_ws(" ", "prev", "w"), salt)
                 % n_buckets).alias("bucket")
    # the bucketed posting feeds THREE consumers (raw counts, target
    # counts, per-doc scoring) — persist it once instead of re-running
    # the tokenize+explode+md5 pipeline three times (measured 6.7 s →
    # ~3 s at sf0.1; at scale this is the corpus-sized subplan).
    # LAZY persist + no spread is deliberate: the consumers race as
    # independent leaf stages (event log: five concurrent ~2.8 s
    # single-task recomputes), but they back-fill idle cores, and the
    # eager `materialize_now`+`spread_input` remedy — which pays one
    # serialized cache-build of the EXPLODED posting on the critical
    # path — measured 1.33 → 2.9 s warm median (see OPTIMIZATION_r12.md
    # "eager-fill A/B")
    posting = materialize(
        bigram_pairs(docs, id_col, text_col).select("doc_id", bucket_of))
    flagged = posting.join(
        docs.select(F.col(id_col).alias("doc_id"),
                    target.alias("__t")), "doc_id")

    c_r = (posting.groupBy("bucket").agg(F.count("*").alias("c_r")))
    c_t = (flagged.filter("__t")
           .groupBy("bucket").agg(F.count("*").alias("c_t")))
    model = (c_r.join(c_t, "bucket", "left")
             .withColumn("c_t", F.coalesce("c_t", F.lit(0))))
    totals = (model.select(
        F.sum("c_r").alias("__nr"), F.sum("c_t").alias("__nt"))
        .withColumn("__j", F.lit(1)))

    # per-feature term ln((2c_t+1)/(2c_r+1)); the normalizers fold into
    # one n_feats-scaled constant ln((2N_r+B)/(2N_t+B)) per doc
    scored = (posting
              .join(F.broadcast(model), "bucket")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_feats"),
                   F.sum(F.log((F.col("c_t") * 2 + 1)
                               / (F.col("c_r") * 2 + 1))).alias("__s"))
              .withColumn("__j", F.lit(1))
              .join(F.broadcast(totals), "__j")
              .withColumn(
                  "logw",
                  F.col("__s") + F.col("n_feats")
                  * F.log((F.col("__nr") * 2 + n_buckets)
                          / (F.col("__nt") * 2 + n_buckets))))

    u = (_uniform_int(F.col("doc_id"), salt + ":g") + F.lit(0.5)) / 65536.0
    gumbel = -F.log(-F.log(u))
    ranked = (scored
              .withColumn("score", F.round(F.col("logw") + gumbel,
                                           round_dec))
              .withColumn("kept", F.expr(
                  f"row_number() OVER (ORDER BY score DESC, doc_id)")
                  <= k))
    out = ranked.select("doc_id", "n_feats", "score", "kept")
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
