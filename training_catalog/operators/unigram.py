"""Distributed unigram-LM subword tokenizer training (Kudo 2018,
"Subword Regularization" — the SentencePiece unigram model), the second
major tokenizer-training algorithm beside BPE (operators/bpe.py).

Same scale skeleton as the BPE family:

1. **Corpus → vocab collapse.**  Unigram-LM statistics depend only on
   the multiset of distinct words: ONE map-side-combining
   ``groupBy(word)`` turns the corpus into a (w, freq) frame (Heaps'
   law: ~1M–100M rows at 100 TB); every EM iteration runs on this
   frame — the corpus is scanned exactly once, ever.
2. **Model ships as a broadcast, counts come back bounded.**  The piece
   model (a few-k to 32k rows — the trained artifact itself) is
   broadcast into a per-word Viterbi pandas UDF; the M-step is one
   explode+groupBy over the vocab frame whose result is model-sized.
   Driver traffic per EM iteration = one model-sized collect, never
   corpus- or vocab-sized.
3. **Determinism.**  Hard (Viterbi) EM with exact-integer counts and a
   fixed tie rule (equal DP score → longest piece wins), so the whole
   training run is bit-reproducible and equality-pinned against a
   pure-Python reference implementing the identical recurrence
   (tests/test_unigram_ops.py) — the same differential gate the BPE
   learner carries.

Algorithm (simplified Kudo variant, documented contract):

- **Seed**: all substrings of length 1..``max_piece_len`` of every vocab
  word, freq-weighted with within-word multiplicity; keep the top
  ``seed_size`` by (count desc, piece asc), always unioned with every
  single character (coverage).
- **EM x ``em_iters``** (hard): E-step Viterbi-segments each word under
  log p(piece) = log(count) − log(total); M-step recounts pieces from
  the segmentations (freq-weighted).  Single characters are floored at
  count 1 so coverage never collapses (log(0) guard), mirroring
  SentencePiece's character-coverage guarantee.
- **Prune** (``prune="loss"``, the default — Kudo §3.2's criterion
  under hard EM): a piece's utility is the corpus-likelihood DROP if it
  were removed — per word, the Viterbi score minus the best score with
  that piece masked, freq-weighted and summed.  Computed distributed
  (one pass over the vocab frame, model broadcast, model-sized
  collect) in fixed-point integer micro-nats, so the freq-weighted sum
  is exact and summation-order-independent (a float sum would make
  near-tie ranks depend on Spark's partial-aggregation order).  Keep
  the top ``vocab_size`` multi-char pieces by (loss desc, piece asc)
  ∪ all characters, then ONE more EM step restricted to the kept
  pieces produces the final counts.  ``prune="count"`` keeps the
  simpler count-ranked variant (top ``vocab_size`` by count desc ∪
  chars); ``prune="loss_iter"`` runs Kudo's MULTI-ROUND prune — drop
  the bottom ~20% of multi-char pieces by loss per round
  (``PRUNE_SHRINK``), re-estimate with one EM pass, re-rank, repeat
  until ``vocab_size`` — the full §3.2 schedule under hard EM.
  Remaining deviation from SentencePiece, by design: hard (Viterbi)
  EM instead of marginal EM; all three prune variants differential-
  pinned against the pure-Python reference.

Reference anchor: the reference pipeline feeds downstream consumers that
tokenize its text outputs (openskidata-processor README pipeline
diagram); tokenizer training is the corpus-scale job the training-data
consumer adds — see SURVEY.md §2 training-data extension.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def seed_piece_counts(vocab: DataFrame,
                      max_piece_len: int = 4) -> DataFrame:
    """(piece, piece_count, n_words): freq-weighted substring counts
    (with within-word multiplicity) of length 1..``max_piece_len`` over
    a (w, freq) vocab frame — the unigram-LM seed statistics.  Pure
    Catalyst: a flattened (start, len) grid per word, one explode, one
    map-side-combining groupBy; runs on the vocab frame only."""
    w = F.col("w")
    grid = F.flatten(F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.transform(
            F.sequence(F.lit(1), F.lit(max_piece_len)),
            lambda n: F.struct(i.alias("i"), n.alias("n")))))
    pieces = F.transform(
        F.filter(grid, lambda s: s["i"] + s["n"] - 1 <= F.length(w)),
        lambda s: w.substr(s["i"], s["n"]))
    return (vocab
            .select("w", "freq", F.explode(pieces).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").alias("piece_count"),
                 F.countDistinct("w").alias("n_words")))


def _viterbi(word: str, logp: dict[str, float],
             max_piece_len: int) -> list[str] | None:
    """Best segmentation of ``word`` under ``logp``; ties prefer the
    LONGEST final piece (smallest split point).  Returns None only if
    some character is absent from the model (never happens under the
    coverage floor)."""
    n = len(word)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        # j ascending = longest piece first; strict '>' keeps it on tie
        for j in range(max(0, i - max_piece_len), i):
            lp = logp.get(word[j:i])
            if lp is None:
                continue
            score = best[j] + lp
            if score > best[i]:
                best[i] = score
                back[i] = j
    if best[n] == float("-inf"):
        return None
    out: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def _segment_udf(logp: dict[str, float], max_piece_len: int):
    """array<string> pandas UDF: Viterbi segmentation of each word under
    the (broadcast-captured) piece log-prob model."""
    @F.pandas_udf("array<string>")
    def _seg(col: pd.Series) -> pd.Series:
        m = logp.value if hasattr(logp, "value") else logp
        return col.map(lambda w: _viterbi(w, m, max_piece_len))
    return _seg


def _logp_from_counts(counts: dict[str, int]) -> dict[str, float]:
    total = sum(counts.values())
    lt = math.log(total)
    return {p: math.log(c) - lt for p, c in counts.items() if c > 0}


# Fixed-point quantum for the prune-loss computation: log-probs round to
# integer MICRO-NATS so per-word deltas and their freq-weighted sums are
# exact integers — deterministic under any distributed summation order
# (a float sum would make near-tie prune ranks depend on partial-agg
# order).  Identical constant in the pure-Python differential reference.
LOSS_QUANT = 1_000_000

# Iterative-prune keep fraction per round (Kudo §3.2 removes ~20%/round;
# SentencePiece's --shrinking_factor default is likewise 0.75-0.8).
# Identical constant in the pure-Python differential reference.
PRUNE_SHRINK = 0.8


def _quantize_logp(logp: dict[str, float]) -> dict[str, int]:
    return {p: int(round(lp * LOSS_QUANT)) for p, lp in logp.items()}


def _viterbi_q(word: str, logpq: dict[str, int], max_piece_len: int,
               masked: str | None = None):
    """Integer-score Viterbi (same recurrence and longest-piece tie rule
    as ``_viterbi``) under the micro-nat model, optionally with one
    piece ``masked`` out.  Returns (score, pieces) or None."""
    n = len(word)
    neg = None
    best: list[int | None] = [0] + [neg] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            piece = word[j:i]
            if piece == masked:
                continue
            lp = logpq.get(piece)
            if lp is None or best[j] is None:
                continue
            score = best[j] + lp
            if best[i] is None or score > best[i]:
                best[i] = score
                back[i] = j
    if best[n] is None:
        return None
    out: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return best[n], out


def _loss_udf(logpq, max_piece_len: int):
    """Per-word prune-loss rows: for each DISTINCT multi-char piece in
    the word's Viterbi path, the integer micro-nat drop when that piece
    is masked.  ``logpq`` is a Broadcast (or plain dict in tests)."""
    @F.pandas_udf("array<struct<piece:string,delta:long>>")
    def _loss(col: pd.Series) -> pd.Series:
        m = logpq.value if hasattr(logpq, "value") else logpq

        def one(w):
            full = _viterbi_q(w, m, max_piece_len)
            if full is None:
                return []
            score, path = full
            out = []
            for p in set(path):
                if len(p) <= 1:
                    continue        # chars are never prunable (coverage)
                masked = _viterbi_q(w, m, max_piece_len, masked=p)
                # masked is never None: single chars stay available
                out.append({"piece": p,
                            "delta": int(score - masked[0])})
            return out
        return col.map(one)
    return _loss


def piece_prune_losses(vocab: DataFrame,
                       counts: dict[str, int],
                       max_piece_len: int) -> dict[str, int]:
    """Freq-weighted corpus-likelihood loss (integer micro-nats) of
    removing each multi-char piece, under the hard-EM Viterbi model —
    ONE distributed pass over the (w, freq) vocab frame with a
    broadcast model and a model-sized collect.  Pieces absent from
    every best path get no row (loss 0)."""
    spark = vocab.sparkSession
    loss = _loss_udf(
        spark.sparkContext.broadcast(
            _quantize_logp(_logp_from_counts(counts))),
        max_piece_len)
    rows = (vocab
            .select("freq", F.explode(loss(F.col("w"))).alias("x"))
            .groupBy(F.col("x.piece").alias("piece"))
            .agg(F.sum(F.col("freq") * F.col("x.delta")).alias("loss"))
            .collect())                        # bounded: model-sized
    return {r["piece"]: int(r["loss"]) for r in rows}


def _char_floor(counts: dict[str, int], chars: set[str]) -> None:
    """Coverage guarantee: every single character keeps count >= 1."""
    for c in chars:
        if counts.get(c, 0) < 1:
            counts[c] = 1


def train_unigram(vocab: DataFrame, vocab_size: int = 256,
                  seed_size: int = 1024, max_piece_len: int = 4,
                  em_iters: int = 2, prune: str = "loss") -> list[dict]:
    """Train the unigram-LM piece model over a (w, freq) vocab frame.

    Returns ``[{rank, piece, piece_count}, ...]`` ordered by final count
    desc then piece asc — the trained tokenizer artifact.  Each EM
    iteration is ONE distributed pass (broadcast model → Viterbi UDF →
    explode+groupBy M-step) with a model-sized collect; ``em_iters`` is
    a fixed small constant, so total driver traffic is O(model), and no
    step ever shuffles more than vocab-frame rows.

    ``prune="loss"`` (default) ranks pieces by the corpus-likelihood
    drop of removing them (Kudo §3.2 under hard EM, exact integer
    micro-nats — one extra distributed pass); ``prune="loss_iter"``
    runs the full multi-round §3.2 schedule (drop the bottom
    ~20%/round with EM re-estimation between rounds, ~7 rounds for the
    default seed→vocab ratio — each round one loss pass + one EM pass,
    driver traffic still O(model) per round); ``prune="count"`` keeps
    the simpler count-ranked variant.  All three differential-pinned
    in tests/test_unigram_ops.py."""
    from pyspark.storagelevel import StorageLevel

    spark = vocab.sparkSession
    # The vocab frame is re-read by EVERY pass below (seeding, each EM
    # iteration, each loss pass — ~6 at the default schedule, more under
    # loss_iter).  Without a barrier each pass re-runs the upstream
    # corpus→vocab collapse, i.e. ~6 full corpus scans at 100 TB; a lazy
    # disk-spillable persist makes the first pass pay it once.  Lineage
    # is retained, so an executor loss recomputes instead of failing.
    vocab = vocab.select("w", "freq").persist(StorageLevel.MEMORY_AND_DISK)

    # ONE substring-statistics pass serves both the top-K seed selection
    # and the alphabet: length-1 pieces of the full table are exactly
    # seed_piece_counts(vocab, 1) (identical explode+groupBy counts), so
    # the second corpus-scale pass the old two-call shape paid is gone.
    full = seed_piece_counts(vocab, max_piece_len).persist(
        StorageLevel.MEMORY_AND_DISK)
    seed = (full
            .orderBy(F.col("piece_count").desc(), F.col("piece").asc())
            .limit(seed_size)
            .collect())                        # bounded: model-sized
    char_rows = (full.filter(F.length("piece") == 1)
                 .collect())                   # alphabet-sized
    full.unpersist()
    chars = {r["piece"] for r in char_rows}
    counts = {r["piece"]: int(r["piece_count"]) for r in seed}
    for r in char_rows:                        # coverage union, true counts
        counts.setdefault(r["piece"], int(r["piece_count"]))
    _char_floor(counts, chars)

    def em_step(cur: dict[str, int]) -> dict[str, int]:
        seg = _segment_udf(
            spark.sparkContext.broadcast(_logp_from_counts(cur)),
            max_piece_len)
        new = (vocab
               .select("freq", F.explode(seg(F.col("w"))).alias("piece"))
               .groupBy("piece").agg(F.sum("freq").alias("cnt"))
               .collect())                     # bounded: model-sized
        out = {r["piece"]: int(r["cnt"]) for r in new}
        _char_floor(out, chars)
        return out

    for _ in range(em_iters):
        counts = em_step(counts)

    try:
        if prune == "loss_iter":
            # Kudo's MULTI-ROUND prune: drop the bottom ~(1−shrink) of
            # multi-char pieces by likelihood loss per round — with an EM
            # re-estimation between rounds, so surviving pieces' losses
            # are recomputed under the shrunken model — until vocab_size.
            # Each round costs one distributed loss pass + one
            # distributed EM pass (model-sized collects); rounds =
            # O(log_{1/shrink} (seed_size/vocab_size)) ≈ 7 for 1024→256
            # at 0.8.
            while True:
                losses = piece_prune_losses(vocab, counts, max_piece_len)
                multi = sorted((p for p in counts if len(p) > 1),
                               key=lambda p: (-losses.get(p, 0), p))
                target = (vocab_size if len(multi) <= vocab_size
                          else max(vocab_size,
                                   int(len(multi) * PRUNE_SHRINK)))
                keep = set(multi[:target]) | chars
                counts = {p: c for p, c in counts.items() if p in keep}
                _char_floor(counts, chars)
                counts = em_step(counts)       # re-estimate, then re-rank
                if target <= vocab_size:
                    return _ranked(counts)
        if prune == "loss":
            losses = piece_prune_losses(vocab, counts, max_piece_len)
            multi = sorted((p for p in counts if len(p) > 1),
                           key=lambda p: (-losses.get(p, 0), p))
            keep = set(multi[:vocab_size]) | chars
        else:
            kept = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            keep = {p for p, _ in kept[:vocab_size]} | chars
        counts = {p: c for p, c in counts.items() if p in keep}
        _char_floor(counts, chars)
        counts = em_step(counts)               # final restricted pass
        return _ranked(counts)
    finally:
        vocab.unpersist()                      # model is collected; drop



def _ranked(counts: dict[str, int]) -> list[dict]:
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [{"rank": i, "piece": p, "piece_count": c}
            for i, (p, c) in enumerate(ranked)]


def segment_words(word_frame: DataFrame, model: list[dict],
                  max_piece_len: int = 4,
                  word_col: str = "w") -> DataFrame:
    """Add a ``pieces`` array column: Viterbi segmentation of
    ``word_col`` under a trained model — the 'tokenize the corpus' half.
    The model ships as a broadcast (it is the trained artifact — a few
    k to 32k entries), never per-task closure state."""
    spark = word_frame.sparkSession
    counts = {m["piece"]: m["piece_count"] for m in model}
    seg = _segment_udf(
        spark.sparkContext.broadcast(_logp_from_counts(counts)),
        max_piece_len)
    return word_frame.withColumn("pieces", seg(F.col(word_col)))
