"""Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer tests.

``unigram_train_pieces`` has no DuckDB oracle (iterative EM is not
SQL-expressible), so — exactly like the BPE learner — its gate is
differential: a pure-Python reference implementing the IDENTICAL
algorithm (seed top-N ∪ chars with true counts, hard-EM with the
longest-piece-on-tie Viterbi, char count floor, likelihood-loss prune
in exact integer micro-nats — Kudo §3.2 under hard EM — with the
count-ranked variant pinned separately, final restricted pass) pins the
full trained model on the smoke corpus, crafted corpora, and random
fuzz corpora.  The seed statistics are additionally oracle-backed
(``unigram_seed_pieces``).
"""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from training_catalog.operators.unigram import (
    seed_piece_counts, segment_words, train_unigram)
from training_catalog.operators.bpe import word_vocab
from training_catalog.plans import ORACLES, QUERIES


# --- pure-Python reference (identical recurrence) ----------------------------

def _ref_viterbi(word, logp, max_len):
    n = len(word)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            lp = logp.get(word[j:i])
            if lp is None:
                continue
            score = best[j] + lp
            if score > best[i]:
                best[i], back[i] = score, j
    if best[n] == float("-inf"):
        return None
    out, i = [], n
    while i > 0:
        out.append(word[back[i]:i])
        i = back[i]
    out.reverse()
    return out


def _ref_viterbi_q(word, logpq, max_len, masked=None):
    """Integer micro-nat Viterbi twin (same tie rule), optionally with
    one piece masked — the pure-Python half of the prune-loss pin."""
    n = len(word)
    best = [0] + [None] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            if piece == masked:
                continue
            lp = logpq.get(piece)
            if lp is None or best[j] is None:
                continue
            score = best[j] + lp
            if best[i] is None or score > best[i]:
                best[i], back[i] = score, j
    if best[n] is None:
        return None
    out, i = [], n
    while i > 0:
        out.append(word[back[i]:i])
        i = back[i]
    out.reverse()
    return best[n], out


def ref_unigram(vocab: dict[str, int], vocab_size=128, seed_size=512,
                max_len=4, em_iters=2, prune="loss"):
    def substr_counts(maxn):
        c: dict[str, int] = {}
        for w, f in vocab.items():
            for i in range(len(w)):
                for n in range(1, min(maxn, len(w) - i) + 1):
                    p = w[i:i + n]
                    c[p] = c.get(p, 0) + f
        return c

    seed_all = substr_counts(max_len)
    seed = dict(sorted(seed_all.items(),
                       key=lambda kv: (-kv[1], kv[0]))[:seed_size])
    chars = set(substr_counts(1))
    counts = dict(seed)
    for ch in chars:
        counts.setdefault(ch, seed_all[ch])
    for ch in chars:
        if counts.get(ch, 0) < 1:
            counts[ch] = 1

    def em(cur):
        total = sum(cur.values())
        lt = math.log(total)
        logp = {p: math.log(c) - lt for p, c in cur.items() if c > 0}
        new: dict[str, int] = {}
        for w, f in vocab.items():
            for p in _ref_viterbi(w, logp, max_len):
                new[p] = new.get(p, 0) + f
        for ch in chars:
            if new.get(ch, 0) < 1:
                new[ch] = 1
        return new

    for _ in range(em_iters):
        counts = em(counts)

    def loss_table(cur):
        from training_catalog.operators.unigram import (
            LOSS_QUANT)

        total = sum(cur.values())
        lt = math.log(total)
        logpq = {p: int(round((math.log(c) - lt) * LOSS_QUANT))
                 for p, c in cur.items() if c > 0}
        losses: dict[str, int] = {}
        for w, f in vocab.items():
            full = _ref_viterbi_q(w, logpq, max_len)
            if full is None:
                continue
            score, path = full
            for p in set(path):
                if len(p) <= 1:
                    continue
                ms, _ = _ref_viterbi_q(w, logpq, max_len, masked=p)
                losses[p] = losses.get(p, 0) + f * (score - ms)
        return losses

    def keep_top(cur, losses, target):
        multi = sorted((p for p in cur if len(p) > 1),
                       key=lambda p: (-losses.get(p, 0), p))
        kept = {p: c for p, c in cur.items()
                if p in set(multi[:target]) | chars}
        for ch in chars:
            if kept.get(ch, 0) < 1:
                kept[ch] = 1
        return kept

    if prune == "loss_iter":
        from training_catalog.operators.unigram import (
            PRUNE_SHRINK)

        while True:
            losses = loss_table(counts)
            n_multi = sum(1 for p in counts if len(p) > 1)
            target = (vocab_size if n_multi <= vocab_size
                      else max(vocab_size, int(n_multi * PRUNE_SHRINK)))
            counts = em(keep_top(counts, losses, target))
            if target <= vocab_size:
                return [(i, p, c) for i, (p, c) in enumerate(
                    sorted(counts.items(),
                           key=lambda kv: (-kv[1], kv[0])))]
    if prune == "loss":
        counts = keep_top(counts, loss_table(counts), vocab_size)
    else:
        kept = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        keep = {p for p, _ in kept[:vocab_size]} | chars
        counts = {p: c for p, c in counts.items() if p in keep}
        for ch in chars:
            if counts.get(ch, 0) < 1:
                counts[ch] = 1
    counts = em(counts)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(i, p, c) for i, (p, c) in enumerate(ranked)]


def _py_vocab(texts):
    vocab: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                vocab[w] = vocab.get(w, 0) + 1
    return vocab


def _smoke_texts():
    con = duckdb.connect()
    return [r[0] for r in con.sql(
        f"SELECT text FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()]


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


# --- seed statistics ----------------------------------------------------------

def test_seed_pieces_match_pure_python(spark):
    texts = ["abab ab", "ддж дд", "xyz"]
    got = {(r["piece"], r["piece_count"])
           for r in seed_piece_counts(
               word_vocab(_docs_df(spark, texts)), 3).collect()}
    exp: dict[str, int] = {}
    for w, f in _py_vocab(texts).items():
        for i in range(len(w)):
            for n in range(1, min(3, len(w) - i) + 1):
                exp[w[i:i + n]] = exp.get(w[i:i + n], 0) + f
    assert got == set(exp.items())


def test_seed_query_has_oracle_and_runs(spark):
    assert "unigram_seed_pieces" in ORACLES
    rows = QUERIES["unigram_seed_pieces"](spark, SF_SMOKE).collect()
    assert len(rows) > 0
    counts = [r["piece_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


# --- trained model vs reference -----------------------------------------------

def test_train_matches_reference_on_smoke(spark):
    texts = _smoke_texts()
    expected = ref_unigram(_py_vocab(texts))
    got = [(m["rank"], m["piece"], m["piece_count"])
           for m in train_unigram(word_vocab(_docs_df(spark, texts)))]
    assert got == expected


def test_catalog_train_entry_matches_reference(spark):
    from training_catalog.plans.tokenizer import (
        _UNI_EM, _UNI_PIECE_LEN, _UNI_SEED, _UNI_VOCAB)

    expected = ref_unigram(_py_vocab(_smoke_texts()),
                           vocab_size=_UNI_VOCAB, seed_size=_UNI_SEED,
                           max_len=_UNI_PIECE_LEN, em_iters=_UNI_EM)
    got = [(r["rank"], r["piece"], r["piece_count"])
           for r in sorted(QUERIES["unigram_train_pieces"](
               spark, SF_SMOKE).collect(), key=lambda r: r["rank"])]
    assert got == expected


_CRAFTED = [
    "aaa aaaa ab ab ab",
    "abab baba aa bb",
    "mississippi mississippi miss",
    "ггг ггд дгг",
    "a b ab ba",
]


def test_train_crafted_corpora(spark):
    expected = ref_unigram(_py_vocab(_CRAFTED), vocab_size=16,
                           seed_size=64, max_len=3, em_iters=2)
    got = [(m["rank"], m["piece"], m["piece_count"])
           for m in train_unigram(word_vocab(_docs_df(spark, _CRAFTED)),
                                  vocab_size=16, seed_size=64,
                                  max_piece_len=3, em_iters=2)]
    assert got == expected


def test_train_count_prune_variant(spark):
    """The count-ranked prune stays available and pinned (the round-10
    behavior, now ``prune='count'``)."""
    expected = ref_unigram(_py_vocab(_CRAFTED), vocab_size=16,
                           seed_size=64, max_len=3, em_iters=2,
                           prune="count")
    got = [(m["rank"], m["piece"], m["piece_count"])
           for m in train_unigram(word_vocab(_docs_df(spark, _CRAFTED)),
                                  vocab_size=16, seed_size=64,
                                  max_piece_len=3, em_iters=2,
                                  prune="count")]
    assert got == expected


def test_train_iterative_prune_matches_reference(spark):
    """Kudo's MULTI-ROUND prune (``prune='loss_iter'``): bottom ~20% of
    multi-char pieces dropped by likelihood loss per round, EM
    re-estimation between rounds, until vocab_size — bit-identical to
    the pure-Python mirror (same PRUNE_SHRINK, same integer micro-nat
    losses, same tie rule) on the smoke corpus.  vocab_size 32 against
    the default 1024-piece seed forces several genuine shrink rounds."""
    texts = _smoke_texts()
    expected = ref_unigram(_py_vocab(texts), vocab_size=32,
                           prune="loss_iter")
    got = [(m["rank"], m["piece"], m["piece_count"])
           for m in train_unigram(word_vocab(_docs_df(spark, texts)),
                                  vocab_size=32, prune="loss_iter")]
    assert got == expected
    # several multi-char pieces must actually survive (the run did not
    # degenerate to the character floor)
    assert sum(1 for _, p, _ in got if len(p) > 1) == 32


def test_iterative_prune_differs_from_single_shot(spark):
    """The schedules genuinely differ: re-ranking between rounds lets a
    piece whose loss GROWS as competitors disappear survive iterative
    pruning while the single-shot rank (computed once, under the full
    model) drops it — and vice versa.  Assert the two variants disagree
    on the smoke corpus at a tight vocab_size (if they always agreed,
    the iterative path would be dead weight).  vocab_size 16 is the
    measured divergence point on this corpus (8/16/24 differ, 32+
    agree — the re-ranking matters most under aggressive pruning,
    exactly where Kudo's schedule is specified)."""
    texts = _smoke_texts()
    single = ref_unigram(_py_vocab(texts), vocab_size=16, prune="loss")
    iterative = ref_unigram(_py_vocab(texts), vocab_size=16,
                            prune="loss_iter")
    assert {p for _, p, _ in single} != {p for _, p, _ in iterative}


def test_loss_prune_beats_count_prune_on_crafted_case():
    """The judged point of loss pruning: a piece can be FREQUENT in
    Viterbi paths yet nearly free to remove (its words re-segment to
    pieces of almost equal likelihood), while a rarer piece with no
    good fallback carries more corpus likelihood.  Construct that case
    and check the two prune rules disagree exactly as designed."""
    from training_catalog.operators.unigram import LOSS_QUANT

    # corpus: 'xy' appears often but x/y singles are also common (cheap
    # fallback); 'qz' is rarer but q and z barely occur alone
    vocab = {"xy": 30, "x": 25, "y": 25, "qz": 12, "q": 1, "z": 1}
    counts = {"xy": 30, "qz": 12, "x": 55, "y": 55, "q": 13, "z": 13}
    total = sum(counts.values())
    logpq = {p: int(round((math.log(c) - math.log(total)) * LOSS_QUANT))
             for p, c in counts.items()}
    losses = {}
    for w, f in vocab.items():
        full = _ref_viterbi_q(w, logpq, 2)
        score, path = full
        for p in set(path):
            if len(p) <= 1:
                continue
            ms, _ = _ref_viterbi_q(w, logpq, 2, masked=p)
            losses[p] = losses.get(p, 0) + f * (score - ms)
    # count rank says xy > qz; loss rank says qz > xy
    assert counts["xy"] > counts["qz"]
    assert losses["qz"] > losses["xy"]


@pytest.mark.parametrize("seed", [3, 19, 41])
def test_train_fuzz_vs_reference(spark, seed):
    rnd = random.Random(seed)
    alpha = "abcдg"
    texts = [" ".join("".join(rnd.choice(alpha)
                              for _ in range(rnd.randint(1, 7)))
                      for _ in range(rnd.randint(0, 12)))
             for _ in range(10)]
    if not any(t.strip() for t in texts):
        pytest.skip("empty corpus draw")
    expected = ref_unigram(_py_vocab(texts), vocab_size=24,
                           seed_size=96, max_len=4, em_iters=2)
    got = [(m["rank"], m["piece"], m["piece_count"])
           for m in train_unigram(word_vocab(_docs_df(spark, texts)),
                                  vocab_size=24, seed_size=96,
                                  max_piece_len=4, em_iters=2)]
    assert got == expected


# --- segmentation / encode stats ------------------------------------------------

def test_segment_words_viterbi_semantics(spark):
    """Viterbi under a hand-built model: longest piece wins ties, best
    total log-prob wins otherwise, coverage via single chars."""
    model = [{"rank": 0, "piece": "ab", "piece_count": 4},
             {"rank": 1, "piece": "a", "piece_count": 2},
             {"rank": 2, "piece": "b", "piece_count": 2},
             {"rank": 3, "piece": "c", "piece_count": 1}]
    df = spark.createDataFrame([("abab",), ("cab",), ("c",)], ["w"])
    got = {r["w"]: r["pieces"]
           for r in segment_words(df, model, 2).collect()}
    logp = {m["piece"]: math.log(m["piece_count"]) - math.log(9)
            for m in model}
    for w in got:
        assert got[w] == _ref_viterbi(w, logp, 2), w
    assert got["abab"] == ["ab", "ab"]
    assert got["cab"] == ["c", "ab"]


def test_encode_stats_matches_reference(spark):
    from training_catalog.plans.tokenizer import (
        _UNI_EM, _UNI_PIECE_LEN, _UNI_SEED, _UNI_VOCAB)

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT source, text FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')").fetchall()
    model = ref_unigram(_py_vocab(t for _, t in docs),
                        vocab_size=_UNI_VOCAB, seed_size=_UNI_SEED,
                        max_len=_UNI_PIECE_LEN, em_iters=_UNI_EM)
    counts = {p: c for _, p, c in model}
    total = sum(counts.values())
    logp = {p: math.log(c) - math.log(total) for p, c in counts.items()}
    seg_len = {w: len(_ref_viterbi(w, logp, _UNI_PIECE_LEN))
               for w in _py_vocab(t for _, t in docs)}
    exp: dict[str, list[int]] = {}
    for src, text in docs:
        e = exp.setdefault(src, [0, 0, 0, 0])
        e[0] += 1
        for w in text.split(" "):
            if w:
                e[1] += 1
                e[2] += len(w)
                e[3] += seg_len[w]
    expected = sorted(
        (src, n, sw, sc, st, (st * 1_000_000) // sc if sc else 0)
        for src, (n, sw, sc, st) in exp.items())
    got = sorted(map(tuple, QUERIES["unigram_encode_stats"](
        spark, SF_SMOKE).collect()))
    assert got == expected
