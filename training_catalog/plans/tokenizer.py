"""Tokenizer-training + corpus-statistics catalog extension — the
vocabulary-side operators a 100 TB LLM-data pipeline runs after hygiene:

- ``bpe_pair_stats``     : first BPE iteration — corpus → distinct-word
                           vocab (ONE map-side-combining groupBy; Heaps'
                           law makes everything downstream
                           corpus-independent) → freq-weighted adjacent
                           character-pair counts, deterministic top-64.
- ``bpe_learn_merges``   : full iterative BPE merge learning
                           (operators/bpe.py — incremental pair-count
                           maintenance; iterative argmax per round is not
                           SQL-expressible → no DuckDB oracle; rows-only
                           driver check + differential pytest against a
                           pure-Python Sennrich reference and the naive
                           full-recount twin).
- ``pmi_collocations``   : top bigram collocations ranked by PMI.  The
                           rank key is the exact-integer lift
                           ``c_xy·N·10⁶ div (c_x·c_y)`` (PMI = log of
                           lift/10⁶ — a monotone transform, so the
                           ranking is identical) computed in
                           DECIMAL(38)/HUGEINT so the driver's
                           type-sensitive value hash matches bit-for-bit
                           with no float log anywhere.
- ``split_holdout_stats``: leakage-safe train/valid/test split — the
                           split key is the md5 bucket of the document's
                           exact-dup group (md5 of the text), so
                           byte-identical duplicates can never straddle
                           splits; the output carries the computed
                           cross-split leak count (0 by construction,
                           but measured, not asserted).
- ``bpe_encode_stats``   : BPE train-then-apply — per-source corpus
                           compression with the corpus pre-aggregated to
                           (source, word, cnt) before the vocab join (no
                           per-occurrence join; stop-word skew never
                           reaches a shuffle key).
- ``training_corpus_stats``: the composed end-to-end prep — hygiene gate
                           → exact dedup → leakage-safe split → BPE
                           learned on the TRAIN split only → per-split
                           token statistics; pinned end-to-end against
                           the pure-Python reference composition.

Reference anchor: the reference feeds its outputs to downstream format
consumers (openskidata-processor README pipeline diagram); these queries
are the engine-side operators the training-data consumer needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.barrier import spread_input
from ..operators.bpe import chars as bpe_chars
from ..operators.bpe import (encode_words, learn_bpe_batched,
                             learn_bpe_local, pair_stats_over_vocab,
                             word_vocab)
from ..operators.unigram import (seed_piece_counts, segment_words,
                                 train_unigram)
from ..operators.wordpiece import (encode_wordpiece_udf,
                                   learn_wordpiece_local,
                                   learn_wordpiece_rounds,
                                   wordpiece_vocab)
from .analytics import _t, query
from .oracles import ORACLES

_BPE_TOPK = 64        # pairs reported by the one-iteration stats query
# Merges learned by the registered query.  The batched learner takes one
# top-K collect + one delta shuffle per ROUND (several certified merges
# per round); at toy bench scale the per-round stage-latency floor
# (data-independent) dominates, so the catalog entry demonstrates 8
# merges — the operator API takes any n, the pytest reference pin runs
# 16/32, and `bpe_learn_deep` runs 64 with zero driver rounds.
_BPE_MERGES = 8
_PMI_MIN_COUNT = 5    # collocation support threshold
_PMI_TOPK = 50
_SPLIT_TRAIN_PCT = 80  # md5-bucket split: [0,80) train, [80,90) valid,
_SPLIT_VALID_PCT = 90  # [90,100) test


# ---------------------------------------------------------------------------
# BPE first-iteration pair statistics (oracle-backed)
# ---------------------------------------------------------------------------

@query("bpe_pair_stats")
def bpe_pair_stats(spark, sf_dir):
    """(pair, pair_count, n_words): freq-weighted adjacent character-pair
    counts over the distinct-word vocab — the argmax input of BPE's first
    merge.  The corpus is scanned once (word groupBy with map-side
    combine); the pair explode runs over the vocab frame only."""
    vocab = word_vocab(_t(spark, sf_dir, "documents"))
    return pair_stats_over_vocab(vocab, _BPE_TOPK)


ORACLES["bpe_pair_stats"] = f"""
WITH w AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
  FROM documents
), v AS (
  SELECT w, count(*) AS freq FROM w GROUP BY w
), p AS (
  SELECT w, freq,
         unnest([substr(w, i, 2)
                 FOR i IN generate_series(1, len(w) - 1)]) AS pair
  FROM v WHERE len(w) >= 2
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
FROM p GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT {_BPE_TOPK}
"""


# ---------------------------------------------------------------------------
# Iterative BPE merge learning (no SQL oracle — iterative argmax; pinned
# by tests/test_tokenizer_ops.py against a pure-Python Sennrich reference
# and the naive full-recount twin)
# ---------------------------------------------------------------------------

@query("bpe_learn_merges")
def bpe_learn_merges(spark, sf_dir):
    """(merge_rank, left, right, merged, pair_count): the first
    ``_BPE_MERGES`` BPE merges learned from the documents corpus with
    batched sequential-equal rounds (operators/bpe.py::
    learn_bpe_batched — multiple certified-non-interacting merges per
    driver round trip; output bit-identical to the one-merge-per-round
    learner and the pure-Python Sennrich reference).  Driver traffic is
    one bounded top-K collect per ROUND; the result frame is the
    learned merge table itself (≤ ``_BPE_MERGES`` rows)."""
    vocab = word_vocab(_t(spark, sf_dir, "documents"))
    merges = learn_bpe_batched(vocab, _BPE_MERGES)
    schema = ("merge_rank INT, left STRING, right STRING, "
              "merged STRING, pair_count BIGINT")
    return spark.createDataFrame(
        [(m["merge_rank"], m["left"], m["right"], m["merged"],
          m["pair_count"]) for m in merges],
        schema=schema)


# ---------------------------------------------------------------------------
# Deep BPE learning (no SQL oracle — iterative argmax; pinned by
# tests/test_tokenizer_ops.py against the pure-Python Sennrich reference
# at 64 merges and against the sequential distributed learner)
# ---------------------------------------------------------------------------

_BPE_DEEP_MERGES = 64  # production-path demo depth: one applyInPandas
                       # task, zero driver argmax rounds — the same job
                       # shape trains 30k merges


@query("bpe_learn_deep")
def bpe_learn_deep(spark, sf_dir):
    """(merge_rank, left, right, merged, pair_count): the first
    ``_BPE_DEEP_MERGES`` merges via the production deep-merge path —
    distributed corpus→vocab collapse, then the indexed-heap Sennrich
    loop inside ONE ``applyInPandas`` task (operators/bpe.py::
    learn_bpe_local).  No driver round trips: the merge table is a
    DataFrame born on an executor; depth is limited by in-memory speed
    (~µs/merge), not by per-merge cluster-job latency."""
    vocab = word_vocab(_t(spark, sf_dir, "documents"))
    return learn_bpe_local(vocab, _BPE_DEEP_MERGES)


# ---------------------------------------------------------------------------
# PMI collocations (oracle-backed, exact-integer rank key)
# ---------------------------------------------------------------------------

@query("pmi_collocations")
def pmi_collocations(spark, sf_dir):
    """(bigram, c_xy, c_x, c_y, lift_ppm): top-50 bigram collocations by
    PMI.  lift_ppm = c_xy·N·10⁶ div (c_x·c_y) — 10⁶ means independence;
    PMI = log(lift_ppm/10⁶).  All-integer DECIMAL(38) arithmetic (the
    Spark DIV ≡ DuckDB // on positives), so no float drift can break the
    driver hash; the 1-row total joins in via broadcast."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage

    # spread_input: the regex tokenize + both explodes otherwise run as
    # ONE scan task on single-row-group bench input (no-op at scale)
    docs = spread_input(_t(spark, sf_dir, "documents").select("text"))
    ws = T.words(F.col("text"))
    toks = docs.select(F.explode(ws).alias("w"))
    # uni feeds three consumers (c_x join, c_y join, the 1-row total);
    # without the barrier each gets its own corpus scan+explode subtree
    # (measured: 4 parquet scans, 0 ReusedExchange).  localCheckpoint
    # (via truncate_lineage), NOT persist: a persist() the caller never
    # sees can't be unpersisted and would leak one cached relation per
    # invocation into the session CacheManager, while a checkpointed
    # RDD is ContextCleaner-reclaimed once the returned frame is GC'd.
    uni = truncate_lineage(
        toks.groupBy("w").agg(F.count("*").alias("c_w")), eager=False)
    tot = uni.agg(F.sum("c_w").alias("n_tokens"))
    big = (docs.select(F.explode(
               T.zip_ngrams(ws, 2, lambda x, y: F.concat_ws(" ", x, y)))
               .alias("bigram"))
           .groupBy("bigram").agg(F.count("*").alias("c_xy"))
           .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
           .withColumn("__x", F.split(F.col("bigram"), " ")[0])
           .withColumn("__y", F.split(F.col("bigram"), " ")[1]))
    j = (big.join(uni.select(F.col("w").alias("__x"),
                             F.col("c_w").alias("c_x")), "__x")
         .join(uni.select(F.col("w").alias("__y"),
                          F.col("c_w").alias("c_y")), "__y")
         .crossJoin(F.broadcast(tot)))
    lift = F.expr(
        "CAST(CAST(c_xy AS DECIMAL(38,0)) * n_tokens * 1000000 "
        "DIV (CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)")
    return (j.select("bigram", "c_xy", "c_x", "c_y",
                     lift.alias("lift_ppm"))
            .orderBy(F.col("lift_ppm").desc(), F.col("bigram").asc())
            .limit(_PMI_TOPK))


ORACLES["pmi_collocations"] = f"""
WITH d AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), u AS (
  SELECT unnest(ws) AS w FROM d
), uni AS (
  SELECT w, count(*) AS c_w FROM u GROUP BY w
), tot AS (
  SELECT count(*) AS n_tokens FROM u
), bg AS (
  SELECT unnest([ws[i] || ' ' || ws[i+1]
                 FOR i IN generate_series(1, len(ws) - 1)]) AS bigram
  FROM d WHERE len(ws) >= 2
), big AS (
  SELECT bigram, count(*) AS c_xy FROM bg GROUP BY bigram
  HAVING count(*) >= {_PMI_MIN_COUNT}
)
SELECT b.bigram, CAST(b.c_xy AS BIGINT) AS c_xy,
       CAST(ux.c_w AS BIGINT) AS c_x, CAST(uy.c_w AS BIGINT) AS c_y,
       CAST(b.c_xy::HUGEINT * t.n_tokens * 1000000
            // (ux.c_w::HUGEINT * uy.c_w) AS BIGINT) AS lift_ppm
FROM big b
JOIN uni ux ON ux.w = string_split(b.bigram, ' ')[1]
JOIN uni uy ON uy.w = string_split(b.bigram, ' ')[2],
     tot t
ORDER BY lift_ppm DESC, bigram ASC
LIMIT {_PMI_TOPK}
"""


# ---------------------------------------------------------------------------
# Leakage-safe grouped holdout split (oracle-backed)
# ---------------------------------------------------------------------------

@query("split_holdout_stats")
def split_holdout_stats(spark, sf_dir):
    """(split, n_docs, n_groups, sum_tokens, n_leaked_groups): documents
    assigned to train/valid/test by the md5 bucket of their exact-dup
    GROUP (md5 of the text), never the row — byte-identical duplicates
    land in one split by construction.  n_leaked_groups counts groups
    observed in >1 split (must be 0; computed, not assumed)."""
    docs = _t(spark, sf_dir, "documents")
    grp = F.md5(F.col("text"))
    bucket = (F.conv(F.substring(grp, 1, 4), 16, 10)
              .cast("long") % 100)
    split = (F.when(bucket < _SPLIT_TRAIN_PCT, "train")
             .when(bucket < _SPLIT_VALID_PCT, "valid")
             .otherwise("test"))
    tagged = docs.select(
        grp.alias("grp"), split.alias("split"),
        T.token_count(F.col("text")).alias("n_tok"))
    leaked = (tagged.groupBy("grp")
              .agg(F.countDistinct("split").alias("ns"))
              .agg(F.coalesce(
                  F.sum(F.when(F.col("ns") > 1, 1).otherwise(0)),
                  F.lit(0)).alias("n_leaked_groups")))
    return (tagged.groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("grp").alias("n_groups"),
                 F.sum(F.col("n_tok").cast("long")).alias("sum_tokens"))
            .crossJoin(F.broadcast(leaked)))


ORACLES["split_holdout_stats"] = f"""
WITH t AS (
  SELECT md5(text) AS grp,
         CASE WHEN ('0x' || substr(md5(text), 1, 4))::BIGINT % 100
                   < {_SPLIT_TRAIN_PCT} THEN 'train'
              WHEN ('0x' || substr(md5(text), 1, 4))::BIGINT % 100
                   < {_SPLIT_VALID_PCT} THEN 'valid'
              ELSE 'test' END AS split,
         len(regexp_extract_all(text,
             '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_tok
  FROM documents
), leaked AS (
  SELECT CAST(coalesce(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_leaked_groups
  FROM (SELECT grp, count(DISTINCT split) AS ns FROM t GROUP BY grp)
)
SELECT split, count(*) AS n_docs,
       CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       n_leaked_groups
FROM t, leaked
GROUP BY split, n_leaked_groups
"""


# ---------------------------------------------------------------------------
# BPE train-then-apply (no SQL oracle — the merge table is learned;
# pinned by the pure-Python reference in tests/test_tokenizer_ops.py)
# ---------------------------------------------------------------------------

_BPE_ENC_MERGES = 2   # the APPLY machinery is what this query exercises;
                      # merge depth is orthogonal (bpe_learn_merges runs 8,
                      # the pytest reference pin 16) and each learned merge
                      # costs one sequential argmax round (~1 s job floor
                      # at toy scale)


@query("bpe_encode_stats")
def bpe_encode_stats(spark, sf_dir):
    """(source, n_docs, sum_words, sum_chars, sum_tokens,
    tokens_per_1e6_chars): learn ``_BPE_ENC_MERGES`` merges, apply them
    to the vocab (operators/bpe.py::encode_words), and report per-source
    corpus compression.  Scale shape: the corpus aggregates to
    (source, word, cnt) FIRST (map-side combine — no per-occurrence
    join, so stop-word skew never reaches a shuffle key), then joins the
    encoded vocab's token counts; every post-corpus frame is
    vocab-sized.  The (source, word) frame flows through the materialize
    barrier and the learner's vocab derives FROM it, so the corpus text
    is scanned exactly once (plus one column-pruned source-only scan for
    doc counts).  All-integer output (``div``), hash-stable."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage

    # NO spread_input (tried in the r12 campaign, reverted): isolated
    # A/B read 2.27 -> 2.92 s median — same vocab-collapsed shape as the
    # unigram/wordpiece encode twins, where the Exchange plus the 32x
    # per-task broadcast-merges materialization of the encode UDF
    # outweigh the parallel tokenize (see OPTIMIZATION_r12.md
    # "spread_input re-measure")
    docs = (_t(spark, sf_dir, "documents").select("source", "text")
            .select("source", T.words(F.col("text")).alias("ws")))
    # caller-invisible reuse barrier -> localCheckpoint, not persist
    # (ContextCleaner-reclaimable; see pmi_collocations)
    by_word = truncate_lineage(
        docs.select("source", F.explode("ws").alias("w"))
        .groupBy("source", "w").agg(F.count("*").alias("cnt")),
        eager=False)
    vocab = by_word.groupBy("w").agg(F.sum("cnt").alias("freq"))
    merges = learn_bpe_batched(vocab, _BPE_ENC_MERGES)
    enc = (encode_words(
        vocab.select("w", "freq", bpe_chars(F.col("w")).alias("syms")),
        merges)
        .select("w", F.size("syms").alias("n_tok"),
                F.length("w").alias("n_chr")))

    tok = (by_word.join(enc, "w")
           .groupBy("source")
           .agg(F.sum("cnt").alias("sum_words"),
                F.sum(F.col("cnt") * F.col("n_chr")).alias("sum_chars"),
                F.sum(F.col("cnt") * F.col("n_tok")).alias("sum_tokens")))
    n_docs = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    ratio = F.expr("CAST(CAST(sum_tokens AS DECIMAL(38,0)) * 1000000 "
                   "DIV CAST(sum_chars AS DECIMAL(38,0)) AS BIGINT)")
    return (n_docs.join(tok, "source", "left")
            .select("source", "n_docs",
                    F.coalesce("sum_words", F.lit(0)).alias("sum_words"),
                    F.coalesce("sum_chars", F.lit(0)).alias("sum_chars"),
                    F.coalesce("sum_tokens", F.lit(0)).alias("sum_tokens"),
                    F.when(F.coalesce("sum_chars", F.lit(0)) > 0, ratio)
                    .otherwise(F.lit(0)).alias("tokens_per_1e6_chars")))


# ---------------------------------------------------------------------------
# Composed end-to-end: hygiene → dedup → leakage-safe split → BPE
# (train-split-only) → per-split token statistics.  No SQL oracle (the
# merge table is learned); pinned end-to-end against the pure-Python
# reference composition in tests/test_tokenizer_ops.py.
# ---------------------------------------------------------------------------

_PIPE_MIN_TOKENS = 8   # integer hygiene gate (no float thresholds —
                       # cross-engine/py-reference comparable by identity)


@query("training_corpus_stats")
def training_corpus_stats(spark, sf_dir):
    """(split, n_docs, sum_words, sum_tokens, tokens_per_1e6_chars):
    the whole training-data prep as ONE composed DAG —

    1. hygiene: drop docs under ``_PIPE_MIN_TOKENS`` tokens (integer
       gate, TOKEN_REGEX);
    2. exact dedup, keep-first (min doc_id per text md5) — ONE
       content-keyed shuffle via min(struct(doc_id, text));
    3. leakage-safe split: md5-bucket of the text (identical policy to
       ``split_holdout_stats`` — dup groups are single rows here by
       construction of step 2);
    4. BPE merges learned from the TRAIN split only (the tokenizer must
       never see held-out text), then applied to every split's vocab —
       held-out words still encode (merges apply to any char sequence);
    5. per-split stats over the pre-aggregated (split, word, cnt) frame
       (map-side combine; no per-occurrence join).
    """
    from openskidata_processor_spark.operators.barrier import truncate_lineage

    # spread_input: hygiene token_count + md5 dedup keying otherwise run
    # as ONE scan task on single-row-group bench input (no-op at scale)
    docs = spread_input(_t(spark, sf_dir, "documents")
                        .select("doc_id", "text"))
    kept = docs.filter(T.token_count(F.col("text")) >= _PIPE_MIN_TOKENS)
    uniq = (kept.groupBy(F.md5(F.col("text")).alias("grp"))
            .agg(F.min(F.struct("doc_id", "text")).alias("keep"))
            .select("grp", F.col("keep.text").alias("text")))
    bucket = (F.conv(F.substring(F.col("grp"), 1, 4), 16, 10)
              .cast("long") % 100)
    split = (F.when(bucket < _SPLIT_TRAIN_PCT, "train")
             .when(bucket < _SPLIT_VALID_PCT, "valid")
             .otherwise("test"))
    # The post-dedup tagged corpus feeds TWO consumers (the word
    # aggregation and the per-split doc counts); without the barrier the
    # hygiene filter + dedup shuffle run twice.  localCheckpoint, not
    # persist: caller-invisible barriers must be ContextCleaner-
    # reclaimable (see pmi_collocations); on a cluster,
    # SPARK_GRAFT_RELIABLE_CHECKPOINT=1 upgrades these cuts to reliable
    # checkpoints that survive executor loss.
    tagged = truncate_lineage(
        uniq.select(split.alias("split"),
                    T.words(F.col("text")).alias("ws")), eager=False)

    by_word = truncate_lineage(
        tagged.select("split", F.explode("ws").alias("w"))
        .groupBy("split", "w").agg(F.count("*").alias("cnt")),
        eager=False)
    train_vocab = (by_word.filter(F.col("split") == "train")
                   .select("w", F.col("cnt").alias("freq")))
    merges = learn_bpe_batched(train_vocab, _BPE_ENC_MERGES)
    vocab_all = by_word.groupBy("w").agg(F.sum("cnt").alias("freq"))
    enc = (encode_words(
        vocab_all.select("w", "freq",
                         bpe_chars(F.col("w")).alias("syms")),
        merges)
        .select("w", F.size("syms").alias("n_tok"),
                F.length("w").alias("n_chr")))

    n_docs = tagged.groupBy("split").agg(F.count("*").alias("n_docs"))
    ratio = F.expr("CAST(CAST(sum_tokens AS DECIMAL(38,0)) * 1000000 "
                   "DIV CAST(sum_chars AS DECIMAL(38,0)) AS BIGINT)")
    tok = (by_word.join(enc, "w")
           .groupBy("split")
           .agg(F.sum("cnt").alias("sum_words"),
                F.sum(F.col("cnt") * F.col("n_chr")).alias("sum_chars"),
                F.sum(F.col("cnt") * F.col("n_tok")).alias("sum_tokens")))
    return (n_docs.join(tok, "split", "left")
            .select("split", "n_docs",
                    F.coalesce("sum_words", F.lit(0)).alias("sum_words"),
                    F.coalesce("sum_tokens", F.lit(0))
                    .alias("sum_tokens"),
                    F.when(F.coalesce("sum_chars", F.lit(0)) > 0, ratio)
                    .otherwise(F.lit(0))
                    .alias("tokens_per_1e6_chars")))


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer family — the second major
# tokenizer-training algorithm beside BPE (Kudo 2018; operators/unigram.py).
# Same corpus→vocab collapse; EM iterations broadcast the model out and
# collect model-sized counts back.
# ---------------------------------------------------------------------------

_UNI_PIECE_LEN = 4   # seed substring length cap
_UNI_TOPK = 64       # pieces reported by the seed-statistics query
_UNI_SEED = 512      # seed vocabulary size for the trained entries
_UNI_VOCAB = 128     # pruned model size
_UNI_EM = 2          # hard-EM iterations before pruning


@query("unigram_seed_pieces")
def unigram_seed_pieces(spark, sf_dir):
    """(piece, piece_count, n_words): freq-weighted substring counts of
    length 1..4 over the distinct-word vocab, deterministic top-64 —
    the unigram-LM seed statistics (the EM initializer's input).  One
    corpus scan (word groupBy), then a pure-Catalyst (start, len)-grid
    explode over the vocab frame only."""
    vocab = word_vocab(_t(spark, sf_dir, "documents"))
    return (seed_piece_counts(vocab, _UNI_PIECE_LEN)
            .orderBy(F.col("piece_count").desc(), F.col("piece").asc())
            .limit(_UNI_TOPK))


ORACLES["unigram_seed_pieces"] = f"""
WITH w AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
  FROM documents
), v AS (
  SELECT w, count(*) AS freq FROM w GROUP BY w
), p AS (
  SELECT w, freq,
         unnest(flatten([[substr(w, i, n)
                          FOR n IN generate_series(
                              1, least({_UNI_PIECE_LEN}, len(w) - i + 1))]
                         FOR i IN generate_series(1, len(w))])) AS piece
  FROM v
)
SELECT piece, CAST(SUM(freq) AS BIGINT) AS piece_count,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
FROM p GROUP BY piece
ORDER BY piece_count DESC, piece ASC
LIMIT {_UNI_TOPK}
"""


@query("unigram_train_pieces")
def unigram_train_pieces(spark, sf_dir):
    """(rank, piece, piece_count): the trained unigram-LM piece model —
    seed top-512 ∪ characters, 2 hard-EM iterations (broadcast model →
    Viterbi UDF → model-sized M-step collect), prune to 128 ∪ chars,
    one final restricted EM pass.  Iterative EM is not SQL-expressible
    → no DuckDB oracle; equality-pinned against a pure-Python reference
    implementing the identical recurrence (tests/test_unigram_ops.py,
    the same differential gate as the BPE learner)."""
    vocab = word_vocab(_t(spark, sf_dir, "documents"))
    model = train_unigram(vocab, vocab_size=_UNI_VOCAB,
                          seed_size=_UNI_SEED,
                          max_piece_len=_UNI_PIECE_LEN,
                          em_iters=_UNI_EM)
    return spark.createDataFrame(
        [(m["rank"], m["piece"], m["piece_count"]) for m in model],
        schema="rank INT, piece STRING, piece_count BIGINT")


@query("unigram_encode_stats")
def unigram_encode_stats(spark, sf_dir):
    """(source, n_docs, sum_words, sum_chars, sum_tokens,
    tokens_per_1e6_chars): train the unigram model, Viterbi-segment the
    VOCAB (never per-occurrence), and report per-source compression —
    the unigram twin of bpe_encode_stats, same skew-safe shape: the
    corpus pre-aggregates to (source, word, cnt) before any join, the
    learner's vocab derives from that frame (one corpus text scan), and
    all outputs are exact integers (``div``)."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage

    # NO spread_input here (it was tried in the r12 campaign and
    # reverted): the isolated A/B read 2.88 -> 5.28 s median — the
    # round-robin Exchange + 32-way task fan-out of the tokenize costs
    # more than the single-task scan it replaces on this vocab-collapsed
    # shape (see OPTIMIZATION_r12.md "spread_input re-measure")
    docs = (_t(spark, sf_dir, "documents").select("source", "text")
            .select("source", T.words(F.col("text")).alias("ws")))
    by_word = truncate_lineage(
        docs.select("source", F.explode("ws").alias("w"))
        .groupBy("source", "w").agg(F.count("*").alias("cnt")),
        eager=False)
    vocab = by_word.groupBy("w").agg(F.sum("cnt").alias("freq"))
    model = train_unigram(vocab, vocab_size=_UNI_VOCAB,
                          seed_size=_UNI_SEED,
                          max_piece_len=_UNI_PIECE_LEN,
                          em_iters=_UNI_EM)
    enc = (segment_words(vocab, model, _UNI_PIECE_LEN)
           .select("w", F.size("pieces").alias("n_tok"),
                   F.length("w").alias("n_chr")))
    tok = (by_word.join(enc, "w")
           .groupBy("source")
           .agg(F.sum("cnt").alias("sum_words"),
                F.sum(F.col("cnt") * F.col("n_chr")).alias("sum_chars"),
                F.sum(F.col("cnt") * F.col("n_tok")).alias("sum_tokens")))
    n_docs = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    ratio = F.expr("CAST(CAST(sum_tokens AS DECIMAL(38,0)) * 1000000 "
                   "DIV CAST(sum_chars AS DECIMAL(38,0)) AS BIGINT)")
    return (n_docs.join(tok, "source", "left")
            .select("source", "n_docs",
                    F.coalesce("sum_words", F.lit(0)).alias("sum_words"),
                    F.coalesce("sum_chars", F.lit(0)).alias("sum_chars"),
                    F.coalesce("sum_tokens", F.lit(0)).alias("sum_tokens"),
                    F.when(F.coalesce("sum_chars", F.lit(0)) > 0, ratio)
                    .otherwise(F.lit(0)).alias("tokens_per_1e6_chars")))


# ---------------------------------------------------------------------------
# Kneser–Ney bigram smoothing statistics (Kneser & Ney 1995; Chen &
# Goodman 1998) — the count tables an n-gram LM trainer derives before
# smoothing: bigram counts, left-context diversity N1+(w1,·),
# continuation counts N1+(·,w2), and the global discount inputs n1/n2
# (bigram types seen once/twice; D = n1/(n1+2·n2)).  Everything after
# the ONE corpus bigram scan is bigram-TYPE-bounded (vocab², in
# practice Heaps-bounded), and all outputs are exact integers — fully
# DuckDB-oracle-backed.
# ---------------------------------------------------------------------------

_KN_TOPK = 50


@query("kn_bigram_stats")
def kn_bigram_stats(spark, sf_dir):
    """(bigram, c_xy, n_div_left, n_cont_right, n1, n2): top-50 bigrams
    by count with the per-side Kneser–Ney diversity statistics and the
    global once/twice type counts.  One corpus scan → bigram type
    table (reused by all four consumers through a ContextCleaner-
    reclaimable barrier); the 1-row discount frame broadcasts."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage
    from ..operators.bpe import adjacent_pairs

    # spread_input: the n-gram explode otherwise runs as ONE scan task
    # on single-row-group bench input (no-op at scale)
    docs = spread_input(_t(spark, sf_dir, "documents")
                        .select("doc_id", "text"))
    ws = T.words(F.col("text"))
    big = truncate_lineage(
        docs.select(F.explode(adjacent_pairs(ws)).alias("b"))
        .select(F.col("b.l").alias("w1"), F.col("b.r").alias("w2"))
        .groupBy("w1", "w2").agg(F.count("*").alias("c_xy")),
        eager=False)
    # the type table is distinct on (w1, w2), so per-side diversities
    # are plain count(*) — no count-distinct machinery
    left_div = big.groupBy("w1").agg(
        F.count("*").alias("n_div_left"))
    cont = big.groupBy("w2").agg(
        F.count("*").alias("n_cont_right"))
    disc = big.agg(
        F.sum(F.when(F.col("c_xy") == 1, 1).otherwise(0))
        .cast("long").alias("n1"),
        F.sum(F.when(F.col("c_xy") == 2, 1).otherwise(0))
        .cast("long").alias("n2"))
    return (big.join(left_div, "w1").join(cont, "w2")
            .crossJoin(F.broadcast(disc))
            .select(F.concat_ws(" ", "w1", "w2").alias("bigram"),
                    "c_xy", "n_div_left", "n_cont_right", "n1", "n2")
            .orderBy(F.col("c_xy").desc(), F.col("bigram").asc())
            .limit(_KN_TOPK))


ORACLES["kn_bigram_stats"] = f"""
WITH d AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), bg AS (
  SELECT unnest([ws[i] || ' ' || ws[i+1]
                 FOR i IN generate_series(1, len(ws) - 1)]) AS bigram
  FROM d WHERE len(ws) >= 2
), big AS (
  SELECT string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2,
         count(*) AS c_xy
  FROM bg GROUP BY 1, 2
), ld AS (
  SELECT w1, count(*) AS n_div_left FROM big GROUP BY w1
), ct AS (
  SELECT w2, count(*) AS n_cont_right FROM big GROUP BY w2
), disc AS (
  SELECT CAST(SUM(CASE WHEN c_xy = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN c_xy = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM big
)
SELECT b.w1 || ' ' || b.w2 AS bigram, CAST(b.c_xy AS BIGINT) AS c_xy,
       CAST(ld.n_div_left AS BIGINT) AS n_div_left,
       CAST(ct.n_cont_right AS BIGINT) AS n_cont_right,
       disc.n1, disc.n2
FROM big b JOIN ld USING (w1) JOIN ct USING (w2), disc
ORDER BY c_xy DESC, bigram ASC
LIMIT {_KN_TOPK}
"""


@query("kn_score_docs")
def kn_score_docs(spark, sf_dir):
    """(doc_id, n_bigrams, avg_logp): mean ln P_KN(w2|w1) per document
    under interpolated Kneser–Ney bigram smoothing (Kneser & Ney 1995;
    Chen & Goodman 1998 eq. 20) trained on the corpus itself — the
    KN-smoothed twin of ``lm_perplexity_docs``'s add-½ quality signal,
    closing the n-gram-LM loop over ``kn_bigram_stats``'s count tables:

        P_KN(w2|w1) = (max(c(w1,w2) − D, 0)
                       + D · N1+(w1,·) · N1+(·,w2) / |types|) / c(w1·)
        D = n1 / (n1 + 2·n2)

    Every model input is an exact integer from ONE corpus bigram scan
    (the same tables as kn_bigram_stats); the smoothed probability is
    closed-form double arithmetic written identically in the DuckDB
    oracle, and the per-document mean rounds to 4 decimals (the
    lm_perplexity_docs convention).  Docs with < 2 words have no
    bigrams and are excluded.  Scale shape: the corpus-scale pair
    frame joins the bigram-TYPE-bounded tables; the 1-row global
    (types, n1, n2) frame broadcasts."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage
    from ..operators.bpe import adjacent_pairs

    # NO spread_input (tried in the r12 campaign, reverted): isolated
    # A/B read 1.38 -> 1.87 s median — the bigram pair frame is too
    # light for the extra Exchange at bench scale, unlike the 3-gram
    # kn3/mkn/sbo twins where spread measured a win (see
    # OPTIMIZATION_r12.md "spread_input re-measure")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = T.words(F.col("text"))
    pairs = truncate_lineage(
        docs.select("doc_id", F.explode(adjacent_pairs(ws)).alias("b"))
        .select("doc_id", F.col("b.l").alias("w1"),
                F.col("b.r").alias("w2")),
        eager=False)
    big = truncate_lineage(
        pairs.groupBy("w1", "w2").agg(F.count("*").alias("c_xy")),
        eager=False)
    ctx = big.groupBy("w1").agg(F.sum("c_xy").alias("c_w1"),
                                F.count("*").alias("n_div_left"))
    cont = big.groupBy("w2").agg(F.count("*").alias("n_cont_right"))
    glob = big.agg(F.count("*").alias("t_types"),
                   F.sum((F.col("c_xy") == 1).cast("long")).alias("n1"),
                   F.sum((F.col("c_xy") == 2).cast("long")).alias("n2"))
    d_col = F.when(
        F.col("n1") + F.lit(2) * F.col("n2") > 0,
        F.col("n1").cast("double")
        / (F.col("n1") + F.lit(2) * F.col("n2")).cast("double")
    ).otherwise(F.lit(0.0))
    p_col = ((F.greatest(F.col("c_xy").cast("double") - F.col("d"),
                         F.lit(0.0))
              + (F.col("d") * F.col("n_div_left")
                 * F.col("n_cont_right")) / F.col("t_types"))
             / F.col("c_w1"))
    scored = (pairs
              .join(big, ["w1", "w2"])
              .join(ctx, "w1")
              .join(cont, "w2")
              .crossJoin(F.broadcast(glob))
              .withColumn("d", d_col)
              .withColumn("logp", F.log(p_col)))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.sum("logp") / F.count("*"), 4)
                 .alias("avg_logp")))


ORACLES["kn_score_docs"] = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), pairs AS (
  SELECT doc_id, bg[1] AS w1, bg[2] AS w2
  FROM (SELECT doc_id,
               unnest([[ws[i], ws[i+1]]
                       FOR i IN generate_series(1, len(ws) - 1)]) AS bg
        FROM d WHERE len(ws) >= 2)
), big AS (
  SELECT w1, w2, count(*) AS c_xy FROM pairs GROUP BY w1, w2
), ctx AS (
  SELECT w1, SUM(c_xy) AS c_w1, count(*) AS n_div_left
  FROM big GROUP BY w1
), ct AS (
  SELECT w2, count(*) AS n_cont_right FROM big GROUP BY w2
), gstats AS (
  SELECT count(*) AS t_types,
         SUM(CASE WHEN c_xy = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN c_xy = 2 THEN 1 ELSE 0 END) AS n2
  FROM big
), scored AS (
  SELECT p.doc_id,
         ln((GREATEST(CAST(b.c_xy AS DOUBLE)
                      - (CASE WHEN g.n1 + 2 * g.n2 > 0
                         THEN CAST(g.n1 AS DOUBLE)
                              / CAST(g.n1 + 2 * g.n2 AS DOUBLE)
                         ELSE 0.0 END), 0.0)
              + ((CASE WHEN g.n1 + 2 * g.n2 > 0
                  THEN CAST(g.n1 AS DOUBLE)
                       / CAST(g.n1 + 2 * g.n2 AS DOUBLE)
                  ELSE 0.0 END)
                 * c.n_div_left * t.n_cont_right) / g.t_types)
            / c.c_w1) AS logp
  FROM pairs p
  JOIN big b USING (w1, w2)
  JOIN ctx c USING (w1)
  JOIN ct t USING (w2)
  CROSS JOIN gstats g
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(logp) / count(*), 4) AS avg_logp
FROM scored GROUP BY doc_id
"""


@query("kn3_score_docs")
def kn3_score_docs(spark, sf_dir):
    """(doc_id, n_trigrams, avg_logp): mean ln P_KN(w3|w1 w2) per
    document under the full interpolated Kneser–Ney TRIGRAM recursion
    (Chen & Goodman 1998 eq. 20; single discount per level, the
    non-modified variant) — completing the n-gram-LM family over
    ``kn_bigram_stats``/``kn_score_docs``:

        p3 = (max(c(w1w2w3) − D3, 0) + D3·N1+(w1w2·)·p2) / c(w1w2·)
        p2 = (max(N1+(·w2w3) − D2, 0)
              + D2·|{w3: N1+(·w2w3)>0}|·p1) / N1+(·w2·)
        p1 = N1+(·w3) / |distinct (w2,w3) continuation types|

    with D_k = n1/(n1 + 2·n2) computed over that level's type counts.
    Every statistic — prefix totals, per-level diversity counts,
    continuation counts, discount inputs — derives from ONE corpus
    trigram scan collapsed to the trigram TYPE table (Heaps-bounded);
    scoring joins the corpus-scale trigram posting frame against five
    type-bounded tables plus a 1-row broadcast global frame.  The
    smoothed probability is closed-form double arithmetic mirrored
    verbatim in the DuckDB oracle; per-document means round to 4
    decimals (the lm_perplexity_docs convention).  Docs with < 3
    words have no trigrams and are excluded.  (The oracle's posts/tri/
    cont23 CTEs are AS MATERIALIZED: each is referenced by several
    downstream CTEs, and DuckDB's default inlining re-expands the
    whole chain per reference — measured as a hang at sf0.01;
    materialized, the oracle runs in 0.1 s.)"""
    from openskidata_processor_spark.operators.barrier import truncate_lineage

    # spread_input: the n-gram explode otherwise runs as ONE scan task
    # on single-row-group bench input (no-op at scale)
    docs = spread_input(_t(spark, sf_dir, "documents")
                        .select("doc_id", "text"))
    ws = T.words(F.col("text"))
    # word_shingles joins with a single space — safe to split back
    # because words are space-free by construction (space-delimited
    # tokenization); zip_ngrams' empty branch is array<string>-typed,
    # so a struct-valued gram can't use it directly
    posts = truncate_lineage(
        docs.select("doc_id",
                    F.explode(T.word_shingles(ws, 3)).alias("g"))
        .select("doc_id",
                F.split(F.col("g"), " ")[0].alias("w1"),
                F.split(F.col("g"), " ")[1].alias("w2"),
                F.split(F.col("g"), " ")[2].alias("w3")),
        eager=False)
    tri = truncate_lineage(
        posts.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c123")),
        eager=False)
    # prefix totals + top-level diversity, per (w1, w2)
    ctx12 = tri.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"), F.count("*").alias("n3div"))
    # continuation type table: distinct-w1 count per (w2, w3) — tri is
    # a TYPE table, so this is a plain count(*)
    cont23 = truncate_lineage(
        tri.groupBy("w2", "w3").agg(F.count("*").alias("n1p123")),
        eager=False)
    # middle-level denominators + diversity, per w2
    mid2 = cont23.groupBy("w2").agg(
        F.sum("n1p123").alias("ncont_mid"),
        F.count("*").alias("w3div_mid"))
    # unigram continuation counts, per w3
    uni3 = cont23.groupBy("w3").agg(F.count("*").alias("n1p23"))
    glob = (tri.agg(
        F.sum((F.col("c123") == 1).cast("long")).alias("n1_3"),
        F.sum((F.col("c123") == 2).cast("long")).alias("n2_3"))
        .crossJoin(cont23.agg(
            F.count("*").alias("t2"),
            F.sum((F.col("n1p123") == 1).cast("long")).alias("n1_2"),
            F.sum((F.col("n1p123") == 2).cast("long")).alias("n2_2"))))

    def disc(n1, n2):
        return F.when(
            F.col(n1) + F.lit(2) * F.col(n2) > 0,
            F.col(n1).cast("double")
            / (F.col(n1) + F.lit(2) * F.col(n2)).cast("double")
        ).otherwise(F.lit(0.0))

    p1 = F.col("n1p23").cast("double") / F.col("t2")
    p2 = ((F.greatest(F.col("n1p123").cast("double") - F.col("d2"),
                      F.lit(0.0))
           + (F.col("d2") * F.col("w3div_mid")) * p1)
          / F.col("ncont_mid"))
    p3 = ((F.greatest(F.col("c123").cast("double") - F.col("d3"),
                      F.lit(0.0))
           + (F.col("d3") * F.col("n3div")) * p2)
          / F.col("c12"))
    scored = (posts
              .join(tri, ["w1", "w2", "w3"])
              .join(ctx12, ["w1", "w2"])
              .join(cont23, ["w2", "w3"])
              .join(mid2, "w2")
              .join(uni3, "w3")
              .crossJoin(F.broadcast(glob))
              .withColumn("d3", disc("n1_3", "n2_3"))
              .withColumn("d2", disc("n1_2", "n2_2"))
              .withColumn("logp", F.log(p3)))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_trigrams"),
                 F.round(F.sum("logp") / F.count("*"), 4)
                 .alias("avg_logp")))


ORACLES["kn3_score_docs"] = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), posts AS MATERIALIZED (
  SELECT doc_id, tg[1] AS w1, tg[2] AS w2, tg[3] AS w3
  FROM (SELECT doc_id,
               unnest([[ws[i], ws[i+1], ws[i+2]]
                       FOR i IN generate_series(1, len(ws) - 2)]) AS tg
        FROM d WHERE len(ws) >= 3)
), tri AS MATERIALIZED (
  SELECT w1, w2, w3, count(*) AS c123 FROM posts GROUP BY w1, w2, w3
), ctx12 AS (
  SELECT w1, w2, SUM(c123) AS c12, count(*) AS n3div
  FROM tri GROUP BY w1, w2
), cont23 AS MATERIALIZED (
  SELECT w2, w3, count(*) AS n1p123 FROM tri GROUP BY w2, w3
), mid2 AS (
  SELECT w2, SUM(n1p123) AS ncont_mid, count(*) AS w3div_mid
  FROM cont23 GROUP BY w2
), uni3 AS (
  SELECT w3, count(*) AS n1p23 FROM cont23 GROUP BY w3
), g3 AS (
  SELECT SUM(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS n1_3,
         SUM(CASE WHEN c123 = 2 THEN 1 ELSE 0 END) AS n2_3
  FROM tri
), g2 AS (
  SELECT SUM(CASE WHEN n1p123 = 1 THEN 1 ELSE 0 END) AS n1_2,
         SUM(CASE WHEN n1p123 = 2 THEN 1 ELSE 0 END) AS n2_2,
         count(*) AS t2
  FROM cont23
), g AS (
  SELECT CASE WHEN g3.n1_3 + 2 * g3.n2_3 > 0
         THEN CAST(g3.n1_3 AS DOUBLE)
              / CAST(g3.n1_3 + 2 * g3.n2_3 AS DOUBLE)
         ELSE 0.0 END AS d3,
         CASE WHEN g2.n1_2 + 2 * g2.n2_2 > 0
         THEN CAST(g2.n1_2 AS DOUBLE)
              / CAST(g2.n1_2 + 2 * g2.n2_2 AS DOUBLE)
         ELSE 0.0 END AS d2,
         g2.t2 AS t2
  FROM g3 CROSS JOIN g2
), scored AS (
  SELECT p.doc_id,
         ln((GREATEST(CAST(t.c123 AS DOUBLE) - g.d3, 0.0)
             + (g.d3 * cx.n3div)
               * ((GREATEST(CAST(ct.n1p123 AS DOUBLE) - g.d2, 0.0)
                   + (g.d2 * m.w3div_mid)
                     * (CAST(u.n1p23 AS DOUBLE) / g.t2))
                  / m.ncont_mid))
            / cx.c12) AS logp
  FROM posts p
  JOIN tri t USING (w1, w2, w3)
  JOIN ctx12 cx USING (w1, w2)
  JOIN cont23 ct USING (w2, w3)
  JOIN mid2 m USING (w2)
  JOIN uni3 u USING (w3)
  CROSS JOIN g
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       round(sum(logp) / count(*), 4) AS avg_logp
FROM scored GROUP BY doc_id
"""


@query("mkn_score_docs")
def mkn_score_docs(spark, sf_dir):
    """(doc_id, n_trigrams, avg_logp): mean ln P_MKN(w3|w1 w2) per
    document under MODIFIED Kneser–Ney trigram smoothing (Chen &
    Goodman 1998 §3, eq. 26) — the standard production n-gram smoother,
    upgrading ``kn3_score_docs``'s single discount to three
    count-dependent discounts per level:

        Y_k  = n1/(n1 + 2·n2)                (that level's count-of-counts)
        D1_k = 1 − 2·Y_k·n2/n1
        D2_k = 2 − 3·Y_k·n3/n2
        D3_k = 3 − 4·Y_k·n4/n3               (applied to counts ≥ 3)
        γ(u) = (D1·N1(u·) + D2·N2(u·) + D3·N3+(u·)) / c(u·)
        p_k  = (c − D_k(c)) / c(u·) + γ(u) · p_{k−1}

    The trigram level discounts raw counts c(w1w2w3); the bigram level
    discounts CONTINUATION counts N1+(·w2w3) (its count-of-counts run
    over the continuation-count distribution); the base is the unigram
    continuation distribution, exactly as in kn3_score_docs.  The
    numerator c − D_k(c) needs no clamp: D1 ≤ 1, D2 ≤ 2, D3 ≤ 3 by
    construction (Y, n_{k+1}/n_k ≥ 0) and each applies only to counts
    ≥ its index.  When a count-of-counts denominator is zero (no
    singleton/doubleton/tripleton mass at that level) the affected
    discount degrades to 0 — written identically in both engines.

    Same scale shape as kn3_score_docs: ONE corpus trigram scan
    collapsed to the Heaps-bounded trigram TYPE table; the per-(w1,w2)
    and per-w2 tables now carry three bucketed diversity counts each
    (count(*) FILTER over the type table — still type-bounded); the
    scoring joins are broadcast-hash against five type-bounded tables
    plus ONE 1-row broadcast global carrying all six discounts.  The
    oracle's posts/tri/cont23 CTEs are AS MATERIALIZED (multiply
    referenced — DuckDB's default inlining re-expands the chain per
    reference, measured as a hang on kn3's twin; see that docstring)."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage

    # spread_input: the n-gram explode otherwise runs as ONE scan task
    # on single-row-group bench input (no-op at scale)
    docs = spread_input(_t(spark, sf_dir, "documents")
                        .select("doc_id", "text"))
    ws = T.words(F.col("text"))
    posts = truncate_lineage(
        docs.select("doc_id",
                    F.explode(T.word_shingles(ws, 3)).alias("g"))
        .select("doc_id",
                F.split(F.col("g"), " ")[0].alias("w1"),
                F.split(F.col("g"), " ")[1].alias("w2"),
                F.split(F.col("g"), " ")[2].alias("w3")),
        eager=False)
    tri = truncate_lineage(
        posts.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c123")),
        eager=False)
    # per-(w1,w2): prefix total + diversity bucketed by exact count
    ctx12 = tri.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"),
        F.sum((F.col("c123") == 1).cast("long")).alias("nd1"),
        F.sum((F.col("c123") == 2).cast("long")).alias("nd2"),
        F.sum((F.col("c123") >= 3).cast("long")).alias("nd3p"))
    cont23 = truncate_lineage(
        tri.groupBy("w2", "w3").agg(F.count("*").alias("n1p123")),
        eager=False)
    # per-w2: middle-level denominator + continuation-count buckets
    mid2 = cont23.groupBy("w2").agg(
        F.sum("n1p123").alias("ncont_mid"),
        F.sum((F.col("n1p123") == 1).cast("long")).alias("md1"),
        F.sum((F.col("n1p123") == 2).cast("long")).alias("md2"),
        F.sum((F.col("n1p123") >= 3).cast("long")).alias("md3p"))
    uni3 = cont23.groupBy("w3").agg(F.count("*").alias("n1p23"))
    glob = (tri.agg(
        F.sum((F.col("c123") == 1).cast("long")).alias("a1"),
        F.sum((F.col("c123") == 2).cast("long")).alias("a2"),
        F.sum((F.col("c123") == 3).cast("long")).alias("a3"),
        F.sum((F.col("c123") == 4).cast("long")).alias("a4"))
        .crossJoin(cont23.agg(
            F.count("*").alias("t2"),
            F.sum((F.col("n1p123") == 1).cast("long")).alias("b1"),
            F.sum((F.col("n1p123") == 2).cast("long")).alias("b2"),
            F.sum((F.col("n1p123") == 3).cast("long")).alias("b3"),
            F.sum((F.col("n1p123") == 4).cast("long")).alias("b4"))))

    def mkn_discounts(n1, n2, n3, n4, pre):
        """D1/D2/D3+ columns from a level's count-of-counts; each
        degrades to 0.0 when its denominator has no mass."""
        y = F.when(F.col(n1) + 2 * F.col(n2) > 0,
                   F.col(n1).cast("double")
                   / (F.col(n1) + 2 * F.col(n2)).cast("double")
                   ).otherwise(F.lit(0.0))
        d1 = F.when(F.col(n1) > 0,
                    F.lit(1.0) - 2.0 * y * F.col(n2) / F.col(n1)
                    ).otherwise(F.lit(0.0))
        d2 = F.when(F.col(n2) > 0,
                    F.lit(2.0) - 3.0 * y * F.col(n3) / F.col(n2)
                    ).otherwise(F.lit(0.0))
        d3 = F.when(F.col(n3) > 0,
                    F.lit(3.0) - 4.0 * y * F.col(n4) / F.col(n3)
                    ).otherwise(F.lit(0.0))
        return {pre + "d1": d1, pre + "d2": d2, pre + "d3": d3}

    def disc_of(c, pre):
        return (F.when(c == 1, F.col(pre + "d1"))
                .when(c == 2, F.col(pre + "d2"))
                .otherwise(F.col(pre + "d3")))

    p1 = F.col("n1p23").cast("double") / F.col("t2")
    gamma2 = ((F.col("_2d1") * F.col("md1") + F.col("_2d2") * F.col("md2")
               + F.col("_2d3") * F.col("md3p"))
              / F.col("ncont_mid").cast("double"))
    p2 = ((F.col("n1p123").cast("double")
           - disc_of(F.col("n1p123"), "_2")) / F.col("ncont_mid")
          + gamma2 * p1)
    gamma3 = ((F.col("_3d1") * F.col("nd1") + F.col("_3d2") * F.col("nd2")
               + F.col("_3d3") * F.col("nd3p"))
              / F.col("c12").cast("double"))
    p3 = ((F.col("c123").cast("double")
           - disc_of(F.col("c123"), "_3")) / F.col("c12")
          + gamma3 * p2)

    scored = (posts
              .join(tri, ["w1", "w2", "w3"])
              .join(ctx12, ["w1", "w2"])
              .join(cont23, ["w2", "w3"])
              .join(mid2, "w2")
              .join(uni3, "w3")
              .crossJoin(F.broadcast(glob)))
    for name, col in {**mkn_discounts("a1", "a2", "a3", "a4", "_3"),
                      **mkn_discounts("b1", "b2", "b3", "b4", "_2")}.items():
        scored = scored.withColumn(name, col)
    scored = scored.withColumn("logp", F.log(p3))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_trigrams"),
                 F.round(F.sum("logp") / F.count("*"), 4)
                 .alias("avg_logp")))


ORACLES["mkn_score_docs"] = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), posts AS MATERIALIZED (
  SELECT doc_id, tg[1] AS w1, tg[2] AS w2, tg[3] AS w3
  FROM (SELECT doc_id,
               unnest([[ws[i], ws[i+1], ws[i+2]]
                       FOR i IN generate_series(1, len(ws) - 2)]) AS tg
        FROM d WHERE len(ws) >= 3)
), tri AS MATERIALIZED (
  SELECT w1, w2, w3, count(*) AS c123 FROM posts GROUP BY w1, w2, w3
), ctx12 AS (
  SELECT w1, w2, SUM(c123) AS c12,
         SUM(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS nd1,
         SUM(CASE WHEN c123 = 2 THEN 1 ELSE 0 END) AS nd2,
         SUM(CASE WHEN c123 >= 3 THEN 1 ELSE 0 END) AS nd3p
  FROM tri GROUP BY w1, w2
), cont23 AS MATERIALIZED (
  SELECT w2, w3, count(*) AS n1p123 FROM tri GROUP BY w2, w3
), mid2 AS (
  SELECT w2, SUM(n1p123) AS ncont_mid,
         SUM(CASE WHEN n1p123 = 1 THEN 1 ELSE 0 END) AS md1,
         SUM(CASE WHEN n1p123 = 2 THEN 1 ELSE 0 END) AS md2,
         SUM(CASE WHEN n1p123 >= 3 THEN 1 ELSE 0 END) AS md3p
  FROM cont23 GROUP BY w2
), uni3 AS (
  SELECT w3, count(*) AS n1p23 FROM cont23 GROUP BY w3
), g3 AS (
  SELECT SUM(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS a1,
         SUM(CASE WHEN c123 = 2 THEN 1 ELSE 0 END) AS a2,
         SUM(CASE WHEN c123 = 3 THEN 1 ELSE 0 END) AS a3,
         SUM(CASE WHEN c123 = 4 THEN 1 ELSE 0 END) AS a4
  FROM tri
), g2 AS (
  SELECT count(*) AS t2,
         SUM(CASE WHEN n1p123 = 1 THEN 1 ELSE 0 END) AS b1,
         SUM(CASE WHEN n1p123 = 2 THEN 1 ELSE 0 END) AS b2,
         SUM(CASE WHEN n1p123 = 3 THEN 1 ELSE 0 END) AS b3,
         SUM(CASE WHEN n1p123 = 4 THEN 1 ELSE 0 END) AS b4
  FROM cont23
), g AS (
  SELECT t2,
         CASE WHEN a1 > 0 THEN 1.0 - 2.0 * y3 * a2 / a1 ELSE 0.0 END AS d31,
         CASE WHEN a2 > 0 THEN 2.0 - 3.0 * y3 * a3 / a2 ELSE 0.0 END AS d32,
         CASE WHEN a3 > 0 THEN 3.0 - 4.0 * y3 * a4 / a3 ELSE 0.0 END AS d33,
         CASE WHEN b1 > 0 THEN 1.0 - 2.0 * y2 * b2 / b1 ELSE 0.0 END AS d21,
         CASE WHEN b2 > 0 THEN 2.0 - 3.0 * y2 * b3 / b2 ELSE 0.0 END AS d22,
         CASE WHEN b3 > 0 THEN 3.0 - 4.0 * y2 * b4 / b3 ELSE 0.0 END AS d23
  FROM (SELECT g3.*, g2.*,
               CASE WHEN a1 + 2 * a2 > 0
               THEN CAST(a1 AS DOUBLE) / CAST(a1 + 2 * a2 AS DOUBLE)
               ELSE 0.0 END AS y3,
               CASE WHEN b1 + 2 * b2 > 0
               THEN CAST(b1 AS DOUBLE) / CAST(b1 + 2 * b2 AS DOUBLE)
               ELSE 0.0 END AS y2
        FROM g3 CROSS JOIN g2)
), scored AS (
  SELECT p.doc_id,
         ln((CAST(t.c123 AS DOUBLE)
             - CASE WHEN t.c123 = 1 THEN g.d31
                    WHEN t.c123 = 2 THEN g.d32
                    ELSE g.d33 END) / cx.c12
            + ((g.d31 * cx.nd1 + g.d32 * cx.nd2 + g.d33 * cx.nd3p)
               / CAST(cx.c12 AS DOUBLE))
              * ((CAST(ct.n1p123 AS DOUBLE)
                  - CASE WHEN ct.n1p123 = 1 THEN g.d21
                         WHEN ct.n1p123 = 2 THEN g.d22
                         ELSE g.d23 END) / m.ncont_mid
                 + ((g.d21 * m.md1 + g.d22 * m.md2 + g.d23 * m.md3p)
                    / CAST(m.ncont_mid AS DOUBLE))
                   * (CAST(u.n1p23 AS DOUBLE) / g.t2))) AS logp
  FROM posts p
  JOIN tri t USING (w1, w2, w3)
  JOIN ctx12 cx USING (w1, w2)
  JOIN cont23 ct USING (w2, w3)
  JOIN mid2 m USING (w2)
  JOIN uni3 u USING (w3)
  CROSS JOIN g
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       round(sum(logp) / count(*), 4) AS avg_logp
FROM scored GROUP BY doc_id
"""


@query("sbo_score_docs")
def sbo_score_docs(spark, sf_dir):
    """(doc_id, n_trigrams, n_oov, avg_logs): held-out documents scored
    with STUPID BACKOFF (Brants et al. 2007, "Large Language Models in
    Machine Translation" §4) — the smoother actually used at web scale,
    and the family member whose whole point is the 100 TB shape: scores
    are raw count ratios with a fixed backoff penalty, so training is
    COUNTING ONLY — no discounts, no normalization pass, no
    count-of-counts:

        S(w3|w1 w2) = c(w1w2w3)/c(w1w2)    if c(w1w2w3) > 0
                    = 0.4 · S(w3|w2)        otherwise
        S(w3|w2)    = c(w2w3)/c(w2)         if c(w2w3) > 0
                    = 0.4 · S(w3)           otherwise
        S(w3)       = c(w3)/N

    (α = 0.4, the paper's value.)  Unlike the KN family — which scores
    the corpus on itself, where every n-gram is observed — this entry
    TRAINS on the md5-bucket train split (the split_holdout_stats
    convention, bucket < 80) and scores the HELD-OUT docs, so backoff
    paths genuinely fire.  Positions whose w3 never occurs in training
    are OOV (counted per doc, excluded from the mean — a score of 0
    has no logarithm); docs with at least one scored position emerge.

    Scale shape: ONE train-corpus scan explodes 1/2/3-grams tagged by
    level into ONE map-side-combining groupBy (three Heaps-bounded
    type tables in a single shuffle); the held-out trigram posting
    then joins five type-bounded count tables and a 1-row broadcast
    total.  avg_logs rounds to 4 decimals (family convention)."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage

    # spread_input: the n-gram explode otherwise runs as ONE scan task
    # on single-row-group bench input (no-op at scale)
    docs = spread_input(_t(spark, sf_dir, "documents")
                        .select("doc_id", "text"))
    ws = T.words(F.col("text"))
    grp = F.md5(F.col("text"))
    bucket = (F.conv(F.substring(grp, 1, 4), 16, 10)
              .cast("long") % 100)
    tagged = truncate_lineage(
        docs.select("doc_id", ws.alias("ws"),
                    (bucket < _SPLIT_TRAIN_PCT).alias("is_train")),
        eager=False)
    train = tagged.filter(F.col("is_train"))
    grams = F.concat(
        F.transform(F.col("ws"),
                    lambda w: F.struct(F.lit(1).alias("lvl"),
                                       w.alias("g"))),
        F.transform(T.word_shingles(F.col("ws"), 2),
                    lambda s: F.struct(F.lit(2).alias("lvl"),
                                       s.alias("g"))),
        F.transform(T.word_shingles(F.col("ws"), 3),
                    lambda s: F.struct(F.lit(3).alias("lvl"),
                                       s.alias("g"))))
    counts = truncate_lineage(
        train.select(F.explode(grams).alias("x"))
        .groupBy(F.col("x.lvl").alias("lvl"), F.col("x.g").alias("g"))
        .agg(F.count("*").alias("c")),
        eager=False)
    uni = counts.filter(F.col("lvl") == 1).select("g", "c")
    bi = counts.filter(F.col("lvl") == 2).select(
        F.split(F.col("g"), " ")[0].alias("b1"),
        F.split(F.col("g"), " ")[1].alias("b2"), "c")
    tri = counts.filter(F.col("lvl") == 3).select(
        F.split(F.col("g"), " ")[0].alias("w1"),
        F.split(F.col("g"), " ")[1].alias("w2"),
        F.split(F.col("g"), " ")[2].alias("w3"),
        F.col("c").alias("c123"))
    total = uni.agg(F.sum("c").alias("n_tok"))

    posts = (tagged.filter(~F.col("is_train"))
             .select("doc_id",
                     F.explode(T.word_shingles(F.col("ws"), 3))
                     .alias("g"))
             .select("doc_id",
                     F.split(F.col("g"), " ")[0].alias("w1"),
                     F.split(F.col("g"), " ")[1].alias("w2"),
                     F.split(F.col("g"), " ")[2].alias("w3")))
    scored = (posts
              .join(tri, ["w1", "w2", "w3"], "left")
              .join(bi.select(F.col("b1").alias("w1"),
                              F.col("b2").alias("w2"),
                              F.col("c").alias("c12")),
                    ["w1", "w2"], "left")
              .join(bi.select(F.col("b1").alias("w2"),
                              F.col("b2").alias("w3"),
                              F.col("c").alias("c23")),
                    ["w2", "w3"], "left")
              .join(uni.select(F.col("g").alias("w2"),
                               F.col("c").alias("c2")), "w2", "left")
              .join(uni.select(F.col("g").alias("w3"),
                               F.col("c").alias("c3")), "w3", "left")
              .crossJoin(F.broadcast(total))
              .withColumn(
                  "logs",
                  F.when(F.col("c3").isNull(),
                         F.lit(None).cast("double"))
                  .when(F.col("c123").isNotNull(),
                        F.log(F.col("c123").cast("double")
                              / F.col("c12")))
                  .when(F.col("c23").isNotNull(),
                        F.log(F.lit(0.4)
                              * (F.col("c23").cast("double")
                                 / F.col("c2"))))
                  .otherwise(
                      F.log(F.lit(0.16)
                            * (F.col("c3").cast("double")
                               / F.col("n_tok"))))))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_trigrams"),
                 F.sum(F.col("logs").isNull().cast("long"))
                 .alias("n_oov"),
                 F.round(F.sum("logs") / F.count(F.col("logs")), 4)
                 .alias("avg_logs"))
            .filter(F.col("n_trigrams") > F.col("n_oov")))


ORACLES["sbo_score_docs"] = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws,
         ('0x' || substr(md5(text), 1, 4))::BIGINT % 100
           < {_SPLIT_TRAIN_PCT} AS is_train
  FROM documents
), grams AS MATERIALIZED (
  SELECT lvl, g, count(*) AS c FROM (
    SELECT 1 AS lvl, unnest(ws) AS g FROM d WHERE is_train
    UNION ALL
    SELECT 2, unnest([ws[i] || ' ' || ws[i+1]
                      FOR i IN generate_series(1, len(ws) - 1)])
    FROM d WHERE is_train AND len(ws) >= 2
    UNION ALL
    SELECT 3, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                      FOR i IN generate_series(1, len(ws) - 2)])
    FROM d WHERE is_train AND len(ws) >= 3
  ) GROUP BY lvl, g
), uni AS (
  SELECT g, c FROM grams WHERE lvl = 1
), bi AS (
  SELECT string_split(g, ' ')[1] AS b1, string_split(g, ' ')[2] AS b2, c
  FROM grams WHERE lvl = 2
), tri AS (
  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
         string_split(g, ' ')[3] AS w3, c AS c123
  FROM grams WHERE lvl = 3
), total AS (
  SELECT SUM(c) AS n_tok FROM uni
), posts AS (
  SELECT doc_id, tg[1] AS w1, tg[2] AS w2, tg[3] AS w3
  FROM (SELECT doc_id,
               unnest([[ws[i], ws[i+1], ws[i+2]]
                       FOR i IN generate_series(1, len(ws) - 2)]) AS tg
        FROM d WHERE NOT is_train AND len(ws) >= 3)
), scored AS (
  SELECT p.doc_id,
         CASE WHEN u3.c IS NULL THEN NULL
              WHEN t.c123 IS NOT NULL
                THEN ln(CAST(t.c123 AS DOUBLE) / b12.c)
              WHEN b23.c IS NOT NULL
                THEN ln(CAST(0.4 AS DOUBLE)
                        * (CAST(b23.c AS DOUBLE) / u2.c))
              ELSE ln(CAST(0.16 AS DOUBLE)
                      * (CAST(u3.c AS DOUBLE) / total.n_tok)) END AS logs
  FROM posts p
  LEFT JOIN tri t USING (w1, w2, w3)
  LEFT JOIN bi b12 ON b12.b1 = p.w1 AND b12.b2 = p.w2
  LEFT JOIN bi b23 ON b23.b1 = p.w2 AND b23.b2 = p.w3
  LEFT JOIN uni u2 ON u2.g = p.w2
  LEFT JOIN uni u3 ON u3.g = p.w3
  CROSS JOIN total
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(CASE WHEN logs IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(sum(logs) / count(logs), 4) AS avg_logs
FROM scored GROUP BY doc_id
HAVING count(logs) > 0
"""


# ---------------------------------------------------------------------------
# WordPiece family (Schuster & Nakajima 2012 — the BERT tokenizer), the
# third major subword algorithm: likelihood-scored merges with exact
# integer-fraction argmax, greedy longest-match encode.
# (operators/wordpiece.py; no SQL oracle — iterative argmax; pinned by
# tests/test_wordpiece_ops.py against a pure-Python reference.)
# ---------------------------------------------------------------------------

_WP_MERGES = 48       # merges learned by the registered query
_WP_ENC_MERGES = 16   # merges for the encode-stats entry


@query("wordpiece_learn_vocab")
def wordpiece_learn_vocab(spark, sf_dir):
    """(merge_rank, left, right, merged, pair_count, score_num,
    score_den): the first 48 WordPiece merges — argmax over the exact
    integer likelihood fraction pair_count/(sym_count_l*sym_count_r) —
    learned inside ONE applyInPandas task over the collapsed vocab with
    incremental pair/symbol-count maintenance (zero driver rounds, the
    same deep-path shape as bpe_learn_deep)."""
    vocab = word_vocab(_t(spark, sf_dir, "documents"))
    return learn_wordpiece_local(vocab, _WP_MERGES)


_WP_ROUNDS_MERGES = 4   # driver ROUNDS are the cost unit and WordPiece
                        # cannot batch (see learn_wordpiece_rounds), so
                        # 4 merges ≈ bpe_learn_merges' 3-4 certified
                        # rounds; the fuzz pins run deeper


@query("wordpiece_learn_rounds")
def wordpiece_learn_rounds_stats(spark, sf_dir):
    """(merge_rank, left, right, merged, pair_count, score_num,
    score_den): the beyond-single-task WordPiece fallback demonstrated
    live — DataFrame pair+symbol state with ±delta folds, broadcast
    symbol-count joins, ONE exact integer-fraction argmax per driver
    round (operators/wordpiece.py::learn_wordpiece_rounds).
    Bit-identical to the single-task learner at the same depth
    (CI-pinned, tests/test_wordpiece_ops.py); rows-only driver check —
    the iterative argmax is not SQL-expressible.

    This entry is a LIVE DEMO of the beyond-memory-ceiling fallback at
    bench scale, deliberately kept at 4 merges: the rounds path costs a
    measured ≈ 2.6 s of driver-round latency PER MERGE (time envelope
    in the operator docstring — ~20+ h at a production 30k-merge
    depth).  The PRODUCTION path below the measured ≈ 1.5 GiB/M-words
    single-task ceiling (i.e. for all realistic vocabularies,
    tests/scale_probe.py) is ``learn_wordpiece_local`` — exercised by
    ``wordpiece_learn_vocab``/``wordpiece_encode_stats`` at 16-48
    merges in under a second."""
    vocab = word_vocab(_t(spark, sf_dir, "documents"))
    merges = learn_wordpiece_rounds(vocab, _WP_ROUNDS_MERGES)
    schema = ("merge_rank INT, left STRING, right STRING, "
              "merged STRING, pair_count BIGINT, "
              "score_num BIGINT, score_den BIGINT")
    return spark.createDataFrame(
        [(m["merge_rank"], m["left"], m["right"], m["merged"],
          m["pair_count"], m["score_num"], m["score_den"])
         for m in merges],
        schema=schema)


@query("wordpiece_encode_stats")
def wordpiece_encode_stats(spark, sf_dir):
    """(source, n_docs, sum_words, sum_chars, sum_tokens, n_unk_words,
    tokens_per_1e6_chars): train 16 WordPiece merges, greedy
    longest-match-encode the VOCAB under the final token set (alphabet
    ∪ ## continuations ∪ merged tokens; unmatchable words become one
    [UNK]), join back to the pre-aggregated (source, word, cnt) frame —
    the same skew-safe shape as bpe_encode_stats/unigram_encode_stats,
    reference-pinned end-to-end."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage

    # NO spread_input (tried in the r12 campaign, reverted): isolated
    # A/B read 1.37 -> 1.84 s median — the 32-way fan-out multiplies the
    # per-task broadcast-vocab materialization of the encode UDF and the
    # Exchange outweighs the parallel tokenize on this vocab-collapsed
    # shape (see OPTIMIZATION_r12.md "spread_input re-measure")
    docs = (_t(spark, sf_dir, "documents").select("source", "text")
            .select("source", T.words(F.col("text")).alias("ws")))
    by_word = truncate_lineage(
        docs.select("source", F.explode("ws").alias("w"))
        .groupBy("source", "w").agg(F.count("*").alias("cnt")),
        eager=False)
    vocab = by_word.groupBy("w").agg(F.sum("cnt").alias("freq"))
    merges = [r.asDict()
              for r in learn_wordpiece_local(vocab, _WP_ENC_MERGES)
              .collect()]                     # bounded: merge table
    alphabet = {r["c"] for r in vocab.select(
        F.explode(F.filter(F.split(F.col("w"), ""),
                           lambda c: c != "")).alias("c"))
        .distinct().collect()}                # bounded: alphabet
    tokens = spark.sparkContext.broadcast(
        wordpiece_vocab(merges, alphabet))   # once per executor, not task
    enc = (encode_wordpiece_udf(vocab, tokens)
           .select("w", F.size("pieces").alias("n_tok"),
                   F.length("w").alias("n_chr"),
                   (F.col("pieces")[0] == F.lit("[UNK]"))
                   .cast("int").alias("is_unk")))
    tok = (by_word.join(enc, "w")
           .groupBy("source")
           .agg(F.sum("cnt").alias("sum_words"),
                F.sum(F.col("cnt") * F.col("n_chr")).alias("sum_chars"),
                F.sum(F.col("cnt") * F.col("n_tok")).alias("sum_tokens"),
                F.sum(F.col("cnt") * F.col("is_unk"))
                .alias("n_unk_words")))
    n_docs = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    ratio = F.expr("CAST(CAST(sum_tokens AS DECIMAL(38,0)) * 1000000 "
                   "DIV CAST(sum_chars AS DECIMAL(38,0)) AS BIGINT)")
    return (n_docs.join(tok, "source", "left")
            .select("source", "n_docs",
                    F.coalesce("sum_words", F.lit(0)).alias("sum_words"),
                    F.coalesce("sum_chars", F.lit(0)).alias("sum_chars"),
                    F.coalesce("sum_tokens", F.lit(0)).alias("sum_tokens"),
                    F.coalesce("n_unk_words", F.lit(0))
                    .alias("n_unk_words"),
                    F.when(F.coalesce("sum_chars", F.lit(0)) > 0, ratio)
                    .otherwise(F.lit(0)).alias("tokens_per_1e6_chars")))


# ---------------------------------------------------------------------------
# Streaming twin: incremental vocab-ledger maintenance whose drained
# pair statistics equal the batch query bit-for-bit (same oracle SQL).
# ---------------------------------------------------------------------------

@query("stream_bpe_pair_stats")
def stream_bpe_pair_stats(spark, sf_dir):
    """(pair, pair_count, n_words): streaming twin of bpe_pair_stats —
    each micro-batch adds its word counts to a replay-idempotent vocab
    ledger (OVERWRITE batch partitions); the drained ledger feeds the
    identical pair-stats computation (streaming/documents.py)."""
    from ..streaming.documents import streaming_vocab_pair_stats

    return streaming_vocab_pair_stats(spark, sf_dir, topk=_BPE_TOPK)


ORACLES["stream_bpe_pair_stats"] = ORACLES["bpe_pair_stats"]
