"""WordPiece (Schuster & Nakajima 2012 — the BERT tokenizer) tests.

Iterative likelihood-argmax training is not SQL-expressible, so the gate
is differential (the BPE/unigram pattern): a pure-Python NAIVE reference
— full pair/symbol recount and full-scan exact-fraction argmax per merge
— pins the incremental indexed-heap trainer merge-for-merge on the smoke
corpus, crafted corpora, and random fuzz corpora; the greedy
longest-match encoder is pinned against a reference scanner including
the [UNK] contract.
"""

from __future__ import annotations

import random
from fractions import Fraction

import duckdb
import pytest

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from training_catalog.operators.bpe import word_vocab
from training_catalog.operators.wordpiece import (
    encode_wordpiece_udf, learn_wordpiece_local, merge_symbol,
    word_symbols, wordpiece_vocab)
from training_catalog.plans import QUERIES


# --- pure-Python naive reference ----------------------------------------------

def _apply(syms, a, b, m):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(m)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def ref_wordpiece(vocab: dict[str, int], n_merges: int,
                  min_count: int = 2):
    """Naive recount-per-merge reference: argmax over the exact fraction
    pair_count/(sym_l*sym_r), ties to the lexicographically smallest
    (left, right)."""
    words = {w: word_symbols(w) for w in vocab}
    merges = []
    for rank in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        sc: dict[str, int] = {}
        for w, f in vocab.items():
            syms = words[w]
            for s in syms:
                sc[s] = sc.get(s, 0) + f
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + f
        best = None
        for (a, b), c in pc.items():
            if c < min_count:
                continue
            s = Fraction(c, sc[a] * sc[b])
            if (best is None or s > best[0]
                    or (s == best[0] and (a, b) < (best[1], best[2]))):
                best = (s, a, b, c)
        if best is None:
            break
        s, a, b, c = best
        m = merge_symbol(a, b)
        merges.append((rank, a, b, m, c,
                       int(s.numerator), int(s.denominator)))
        for w in words:
            words[w] = _apply(words[w], a, b, m)
    return merges, words


def ref_encode(word, tokens, max_token_len=32):
    out, i, n = [], 0, len(word)
    while i < n:
        piece = None
        for j in range(min(n, i + max_token_len), i, -1):
            cand = word[i:j] if i == 0 else "##" + word[i:j]
            if cand in tokens:
                piece = cand
                break
        if piece is None:
            return ["[UNK]"]
        out.append(piece)
        i += len(piece) - 2 if piece.startswith("##") else len(piece)
    return out


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


def _as_tuples(rows):
    return [(r["merge_rank"], r["left"], r["right"], r["merged"],
             r["pair_count"], r["score_num"], r["score_den"])
            for r in sorted(rows, key=lambda r: r["merge_rank"])]


# --- trainer vs reference -------------------------------------------------------

def test_word_symbols_and_merge_symbol():
    assert word_symbols("abc") == ["a", "##b", "##c"]
    assert word_symbols("a") == ["a"]
    assert word_symbols("") == []
    assert merge_symbol("a", "##b") == "ab"
    assert merge_symbol("##a", "##b") == "##ab"


def test_learn_matches_reference_on_smoke(spark):
    texts = _smoke_texts()
    expected, _ = ref_wordpiece(_py_vocab(texts), 48)
    got = _as_tuples(learn_wordpiece_local(
        word_vocab(_docs_df(spark, texts)), 48).collect())
    assert got == expected


_CRAFTED = [
    "aaa aaaa ab ab ab",
    "abab baba aa bb",
    "mississippi mississippi miss",
    "ггг ггд дгг",
    "a b ab ba",
]


def test_learn_crafted_corpora(spark):
    expected, _ = ref_wordpiece(_py_vocab(_CRAFTED), 12, min_count=1)
    got = _as_tuples(learn_wordpiece_local(
        word_vocab(_docs_df(spark, _CRAFTED)), 12,
        min_count=1).collect())
    assert got == expected


@pytest.mark.parametrize("seed", [7, 13, 37])
def test_learn_fuzz_vs_reference(spark, seed):
    rnd = random.Random(seed)
    alpha = "abcдg"
    texts = [" ".join("".join(rnd.choice(alpha)
                              for _ in range(rnd.randint(1, 6)))
                      for _ in range(rnd.randint(0, 15)))
             for _ in range(12)]
    expected, _ = ref_wordpiece(_py_vocab(texts), 10, min_count=1)
    got = _as_tuples(learn_wordpiece_local(
        word_vocab(_docs_df(spark, texts)), 10, min_count=1).collect())
    assert got == expected


def test_catalog_learn_entry(spark):
    from training_catalog.plans.tokenizer import _WP_MERGES

    expected, _ = ref_wordpiece(_py_vocab(_smoke_texts()), _WP_MERGES)
    got = _as_tuples(QUERIES["wordpiece_learn_vocab"](
        spark, SF_SMOKE).collect())
    assert got == expected


def test_learn_depth_256_matches_naive_reference(spark):
    """Depth probe: 256 merges on a synthetic vocabulary rich enough to
    sustain them — the incremental indexed-heap trainer must equal the
    naive full-recount reference merge-for-merge at real depth (the
    smoke corpus collapses after ~90; the naive twin IS the pin, so
    this is the incremental==naive differential at 16x the catalog
    entry's depth)."""
    rnd = random.Random(71)
    texts = [" ".join("".join(rnd.choice("abcdefghijkl")
                              for _ in range(rnd.randint(4, 12)))
                      for _ in range(30))
             for _ in range(60)]
    vocab = _py_vocab(texts)
    expected, _ = ref_wordpiece(vocab, 256, min_count=1)
    assert len(expected) == 256
    got = _as_tuples(learn_wordpiece_local(
        word_vocab(_docs_df(spark, texts)), 256, min_count=1).collect())
    assert got == expected


# --- distributed rounds fallback (beyond the single-task vocab ceiling) ---------

def test_rounds_learner_matches_local_on_smoke(spark):
    """learn_wordpiece_rounds (DataFrame state, one exact-argmax merge
    per driver round — the path past learn_wordpiece_local's single-task
    memory ceiling) must be bit-identical to the local trainer and the
    naive reference."""
    from training_catalog.operators.wordpiece import (
        learn_wordpiece_rounds)

    texts = _smoke_texts()
    expected, _ = ref_wordpiece(_py_vocab(texts), 16)
    got = _as_tuples(learn_wordpiece_rounds(
        word_vocab(_docs_df(spark, texts)), 16))
    assert got == expected


def test_rounds_learner_crafted_and_fuzz(spark):
    """Crafted tie/overlap corpora + fuzz: the float-top-K exact-refine
    argmax (including the widen-on-tie-plateau path, forced with
    topk=2) must stay exact."""
    from training_catalog.operators.wordpiece import (
        learn_wordpiece_rounds)

    expected, _ = ref_wordpiece(_py_vocab(_CRAFTED), 8, min_count=1)
    got = _as_tuples(learn_wordpiece_rounds(
        word_vocab(_docs_df(spark, _CRAFTED)), 8, min_count=1, topk=2))
    assert got == expected

    rnd = random.Random(91)
    texts = [" ".join("".join(rnd.choice("abcд")
                              for _ in range(rnd.randint(1, 6)))
                      for _ in range(rnd.randint(0, 12)))
             for _ in range(10)]
    expected, _ = ref_wordpiece(_py_vocab(texts), 8, min_count=1)
    got = _as_tuples(learn_wordpiece_rounds(
        word_vocab(_docs_df(spark, texts)), 8, min_count=1))
    assert got == expected


def test_catalog_rounds_entry_matches_reference(spark):
    """The wordpiece_learn_rounds catalog entry (the live fallback demo)
    equals the naive reference — hence the single-task learner — at the
    registered depth."""
    from training_catalog.plans.tokenizer import (
        _WP_ROUNDS_MERGES)

    expected, _ = ref_wordpiece(_py_vocab(_smoke_texts()),
                                _WP_ROUNDS_MERGES)
    got = _as_tuples(QUERIES["wordpiece_learn_rounds"](
        spark, SF_SMOKE).collect())
    assert got == expected


def test_wp_symbols_matches_python(spark):
    from training_catalog.operators.wordpiece import wp_symbols

    words = ["abc", "a", "mississippi", "гг"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {r["w"]: r["s"]
           for r in df.select("w", wp_symbols(F.col("w")).alias("s"))
           .collect()}
    for w in words:
        assert got[w] == word_symbols(w), w


# --- encoder --------------------------------------------------------------------

def test_encoder_matches_reference_and_unk_contract(spark):
    texts = _smoke_texts()
    vocab = _py_vocab(texts)
    merges, _ = ref_wordpiece(vocab, 16)
    mdicts = [{"merged": m} for _, _, _, m, _, _, _ in merges]
    alphabet = {c for w in vocab for c in w}
    # drop one letter's continuation form to force an [UNK] path
    tokens = wordpiece_vocab(mdicts, alphabet)
    df = spark.createDataFrame([(w,) for w in vocab], ["w"])
    got = {r["w"]: r["pieces"]
           for r in encode_wordpiece_udf(df, tokens).collect()}
    for w in vocab:
        assert got[w] == ref_encode(w, tokens), w
    # explicit [UNK]: a word containing a character outside the alphabet
    df2 = spark.createDataFrame([("zzz☃",)], ["w"])
    out = encode_wordpiece_udf(df2, tokens).collect()[0]["pieces"]
    assert out == ["[UNK]"]


def test_encode_stats_matches_reference(spark):
    from training_catalog.plans.tokenizer import _WP_ENC_MERGES

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT source, text FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')").fetchall()
    vocab = _py_vocab(t for _, t in docs)
    merges, _ = ref_wordpiece(vocab, _WP_ENC_MERGES)
    mdicts = [{"merged": m} for _, _, _, m, _, _, _ in merges]
    alphabet = {c for w in vocab for c in w}
    tokens = wordpiece_vocab(mdicts, alphabet)
    enc = {w: ref_encode(w, tokens) for w in vocab}
    exp: dict[str, list[int]] = {}
    for src, text in docs:
        e = exp.setdefault(src, [0, 0, 0, 0, 0])
        e[0] += 1
        for w in text.split(" "):
            if w:
                e[1] += 1
                e[2] += len(w)
                e[3] += len(enc[w])
                e[4] += 1 if enc[w] == ["[UNK]"] else 0
    expected = sorted(
        (src, n, sw, sc, st, unk, (st * 1_000_000) // sc if sc else 0)
        for src, (n, sw, sc, st, unk) in exp.items())
    got = sorted(map(tuple, QUERIES["wordpiece_encode_stats"](
        spark, SF_SMOKE).collect()))
    assert got == expected
