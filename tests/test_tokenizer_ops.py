"""BPE tokenizer training, PMI collocations, and holdout-split tests.

``bpe_learn_merges`` has no DuckDB oracle (per-round argmax is not
SQL-expressible), so its gate is differential: a pure-Python Sennrich
(2016) reference implementation pins the full merge sequence on the
smoke corpus, on crafted overlap/tie corpora, and on random fuzz
corpora; the incremental pair-count maintenance is additionally pinned
against the naive full-recount twin (``incremental=False``).  The
greedy-apply fold (`encode_words`) is pinned against the reference's
training-state segmentation.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from training_catalog.operators.bpe import (
    chars, encode_words, encode_words_udf, learn_bpe, learn_bpe_batched,
    learn_bpe_local, merge_pair, merge_pairs_multi, word_vocab)
from training_catalog.plans import QUERIES


# --- pure-Python Sennrich reference -----------------------------------------

def _apply(syms, a, b):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def ref_bpe(vocab: dict[str, int], n_merges: int, min_count: int = 2):
    """Reference learner: argmax by (count desc, pair asc), greedy
    left-to-right non-overlapping apply.  Returns (merges, word_states)."""
    words = {w: list(w) for w in vocab}
    merges = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, freq in vocab.items():
            syms = words[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        best_cnt = max(counts.values())
        if best_cnt < min_count:
            break
        a, b = min(p for p, c in counts.items() if c == best_cnt)
        merges.append((rank, a, b, a + b, best_cnt))
        for w in words:
            words[w] = _apply(words[w], a, b)
    return merges, words


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


# --- learner vs reference ----------------------------------------------------

def test_learn_matches_reference_on_smoke(spark):
    from training_catalog.plans.tokenizer import _BPE_MERGES

    expected, _ = ref_bpe(_py_vocab(_smoke_texts()), _BPE_MERGES)
    got = [(r["merge_rank"], r["left"], r["right"], r["merged"],
            r["pair_count"])
           for r in sorted(QUERIES["bpe_learn_merges"](
               spark, SF_SMOKE).collect(),
               key=lambda r: r["merge_rank"])]
    assert got == expected


def test_learn_16_matches_reference_on_smoke(spark):
    """Deeper pin than the registered query's 8 rounds: 16 merges via
    the operator API (multi-char symbols merging with each other)."""
    texts = _smoke_texts()
    expected, _ = ref_bpe(_py_vocab(texts), 16)
    got = [(m["merge_rank"], m["left"], m["right"], m["merged"],
            m["pair_count"])
           for m in learn_bpe(word_vocab(_docs_df(spark, texts)), 16)]
    assert got == expected


# overlap runs, tie pairs, multi-char symbol growth, unicode
_CRAFTED = [
    "aaa aaaa ab ab ab",
    "abab baba aa bb",
    "xxyy xxyy xyxy",
    "ггг ггд дгг",
    "mississippi mississippi miss",
    "a b ab ba",
]


def test_incremental_equals_recount_and_reference(spark):
    vocab_df = word_vocab(_docs_df(spark, _CRAFTED))
    inc = learn_bpe(vocab_df, 10, min_count=1)
    naive = learn_bpe(vocab_df, 10, min_count=1, incremental=False)
    assert inc == naive
    expected, _ = ref_bpe(_py_vocab(_CRAFTED), 10, min_count=1)
    got = [(m["merge_rank"], m["left"], m["right"], m["merged"],
            m["pair_count"]) for m in inc]
    assert got == expected


def test_merge_fold_edge_semantics(spark):
    df = spark.createDataFrame(
        [("aaa",), ("aaaa",), ("ababab",), ("",), ("a",)], ["w"])
    out = {r["w"]: (r["m_aa"], r["m_ba"]) for r in df.select(
        "w",
        merge_pair(chars(F.col("w")), "a", "a").alias("m_aa"),
        merge_pair(chars(F.col("w")), "b", "a").alias("m_ba")).collect()}
    assert out["aaa"] == (["aa", "a"], ["a", "a", "a"])
    assert out["aaaa"] == (["aa", "aa"], ["a", "a", "a", "a"])
    assert out["ababab"] == (["a", "b", "a", "b", "a", "b"],
                             ["a", "ba", "ba", "b"])
    assert out[""] == ([], [])
    assert out["a"] == (["a"], ["a"])


def test_encode_words_reproduces_training_state(spark):
    texts = _CRAFTED
    merges_py, words_py = ref_bpe(_py_vocab(texts), 8, min_count=1)
    merges = [{"merge_rank": r, "left": a, "right": b, "merged": m,
               "pair_count": c} for r, a, b, m, c in merges_py]
    vocab_df = word_vocab(_docs_df(spark, texts))
    start = vocab_df.select("w", "freq", chars(F.col("w")).alias("syms"))
    got = {r["w"]: r["syms"]
           for r in encode_words(start, merges).collect()}
    assert got == words_py


@pytest.mark.parametrize("seed", [5, 17, 29])
def test_learn_fuzz_vs_reference(spark, seed):
    rnd = random.Random(seed)
    alpha = "abcдg"
    texts = [" ".join("".join(rnd.choice(alpha)
                              for _ in range(rnd.randint(1, 6)))
                      for _ in range(rnd.randint(0, 15)))
             for _ in range(12)]
    expected, _ = ref_bpe(_py_vocab(texts), 6, min_count=1)
    got = [(m["merge_rank"], m["left"], m["right"], m["merged"],
            m["pair_count"])
           for m in learn_bpe(word_vocab(_docs_df(spark, texts)), 6,
                              min_count=1)]
    assert got == expected


# --- batched learner: sequential-equal multi-merge rounds ---------------------

def _as_tuples(merges):
    return [(m["merge_rank"], m["left"], m["right"], m["merged"],
             m["pair_count"]) for m in merges]


def test_batched_equals_sequential_and_reference_on_smoke(spark):
    """learn_bpe_batched must be bit-identical to the one-merge-per-round
    learner (the retained equality pin) and the pure-Python reference,
    while taking strictly fewer driver rounds than merges."""
    texts = _smoke_texts()
    vocab = word_vocab(_docs_df(spark, texts))
    expected, _ = ref_bpe(_py_vocab(texts), 16)
    stats = {}
    got = _as_tuples(learn_bpe_batched(vocab, 16, stats=stats))
    assert got == expected
    assert got == _as_tuples(learn_bpe(vocab, 16))
    assert stats["rounds"] < 16     # measured: ~1.6x fewer on English chars


def test_batched_crafted_corpora(spark):
    """Tie-heavy / overlap corpora: batching must degrade gracefully to
    smaller (possibly single-merge) rounds, never diverge."""
    vocab_df = word_vocab(_docs_df(spark, _CRAFTED))
    expected, _ = ref_bpe(_py_vocab(_CRAFTED), 10, min_count=1)
    got = _as_tuples(learn_bpe_batched(vocab_df, 10, min_count=1))
    assert got == expected


@pytest.mark.parametrize("seed", [5, 17, 29, 43])
def test_batched_fuzz_vs_reference(spark, seed):
    rnd = random.Random(seed)
    alpha = "abcдg"
    texts = [" ".join("".join(rnd.choice(alpha)
                              for _ in range(rnd.randint(1, 6)))
                      for _ in range(rnd.randint(0, 15)))
             for _ in range(12)]
    expected, _ = ref_bpe(_py_vocab(texts), 8, min_count=1)
    got = _as_tuples(learn_bpe_batched(
        word_vocab(_docs_df(spark, texts)), 8, min_count=1))
    assert got == expected


def _multiscript_texts(seed=7, n_docs=120):
    """Disjoint-alphabet corpus — the realistic multilingual web-corpus
    shape where top pairs across scripts share no symbols."""
    rnd = random.Random(seed)
    alphabets = ["abcdefgh", "ийклмноп", "άβγδεζηθ", "אבגדהוזח"]
    return [" ".join("".join(rnd.choice(alpha)
                             for _ in range(rnd.randint(2, 7)))
                     for _ in range(rnd.randint(3, 20)))
            for alpha in (rnd.choice(alphabets) for _ in range(n_docs))]


def test_batched_round_reduction_on_multiscript(spark):
    """On a multi-script corpus the certified prefixes span scripts:
    64 merges in well under 64 rounds (measured ~2.5x fewer), output
    still bit-identical to the reference."""
    texts = _multiscript_texts()
    vocab = word_vocab(_docs_df(spark, texts))
    expected, _ = ref_bpe(_py_vocab(texts), 64, min_count=1)
    stats = {}
    got = _as_tuples(learn_bpe_batched(vocab, 64, min_count=1,
                                       stats=stats))
    assert got == expected
    assert stats["rounds"] <= 40, stats   # measured 26 rounds for 64 merges


def test_merge_pairs_multi_equals_sequential_folds(spark):
    """Property fuzz: one combined fold pass over a symbol-disjoint pair
    set must equal applying the per-pair reference scan sequentially."""
    rnd = random.Random(31)
    pools = [["a", "b"], ["c", "d"], ["x", "y"], ["д", "ж"]]
    cases = []
    for _ in range(150):
        n_pairs = rnd.randint(1, 4)
        pairs = [(p[0], p[1]) if rnd.random() < 0.5 else (p[1], p[0])
                 for p in rnd.sample(pools, n_pairs)]
        syms = [rnd.choice([s for p in pools for s in p])
                for _ in range(rnd.randint(0, 10))]
        cases.append((syms, pairs))
    by_pairs: dict[tuple, list] = {}
    for i, (syms, pairs) in enumerate(cases):
        by_pairs.setdefault(tuple(pairs), []).append((i, syms))
    got = {}
    for pairs, members in by_pairs.items():
        df = spark.createDataFrame(
            [(i, s) for i, s in members], "i int, syms array<string>")
        for row in df.select("i", merge_pairs_multi(
                F.col("syms"), list(pairs)).alias("m")).collect():
            got[row["i"]] = row["m"]
    for i, (syms, pairs) in enumerate(cases):
        exp = list(syms)
        for a, b in pairs:
            exp = _apply(exp, a, b)
        assert got[i] == exp, (syms, pairs)


def _simulate_batched(vocab: dict[str, int], n_merges: int,
                      min_count: int, topk: int):
    """Pure-Python driver for the REAL _select_batch certificate:
    exactly the learn_bpe_batched loop (top-K by (cnt desc, l, r),
    prefix selection, apply-all, recount) without Spark — lets the fuzz
    cover hundreds of corpora in seconds."""
    from training_catalog.operators.bpe import _select_batch

    words = {w: list(w) for w in vocab}
    merges = []
    while len(merges) < n_merges:
        counts: dict[tuple[str, str], int] = {}
        for w, f in vocab.items():
            syms = words[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        rows = [{"l": l, "r": r, "cnt": c}
                for (l, r), c in sorted(counts.items(),
                                        key=lambda kv: (-kv[1], kv[0]))]
        rows = rows[:topk]
        if not rows or rows[0]["cnt"] < min_count:
            break
        sel = _select_batch(rows, len(merges), n_merges, min_count,
                            saw_all=len(rows) < topk,
                            learned={m[3] for m in merges})
        for a, b, cnt in sel:
            merges.append((len(merges), a, b, a + b, cnt))
            for w in words:
                words[w] = _apply(words[w], a, b)
    return merges


@pytest.mark.parametrize("seed", range(8))
def test_select_batch_certificate_fuzz(seed):
    """The batching certificate is the load-bearing equality claim —
    hammer it: 64 random corpora per seed (tie-heavy small alphabets,
    self-pairs, multi-script), the simulated batched loop must
    reproduce the sequential Sennrich reference merge-for-merge."""
    rnd = random.Random(1000 + seed)
    alphabets = ["ab", "abc", "abcd", "abcдg", "abcdefgh", "aабbб"]
    for case in range(64):
        alpha = rnd.choice(alphabets)
        texts = [" ".join("".join(rnd.choice(alpha)
                                  for _ in range(rnd.randint(1, 7)))
                          for _ in range(rnd.randint(0, 10)))
                 for _ in range(rnd.randint(1, 10))]
        vocab = _py_vocab(texts)
        if not vocab:
            continue
        n = rnd.randint(1, 12)
        mc = rnd.choice([1, 1, 2])
        tk = rnd.choice([4, 8, 64])
        expected, _ = ref_bpe(vocab, n, min_count=mc)
        got = _simulate_batched(vocab, n, min_count=mc, topk=tk)
        assert got == expected, (alpha, texts, n, mc, tk)


def test_select_batch_coincident_pair_guard():
    """Round-11 advisory fix: a created pair key (x, ab) can COINCIDE
    with an already-existing pair when the merged string ab is a live
    symbol — its post-merge count is pre + created, which exceeds both
    individual bounds, so a candidate certified by the old
    precursor-only scan could be outranked at its sequential step.
    Here merging (c, d) can lift pre-existing ("e", "cd") [cnt 5] by up
    to min(cnt("e","c")=4, 10) created occurrences to 9 > the candidate
    ("x", "y") [cnt 8]; the certificate must now refuse to batch past
    the first merge.  Liveness of "cd" is decidable from the merge
    history (char seeding: live multi-char symbols ⊆ learned merged
    strings), with a visible-row backstop for wrong histories."""
    from training_catalog.operators.bpe import _select_batch

    rows = [{"l": "c", "r": "d", "cnt": 10},
            {"l": "x", "r": "y", "cnt": 8},
            {"l": "e", "r": "cd", "cnt": 5},
            {"l": "e", "r": "c", "cnt": 4}]
    # history says "cd" is a learned (hence possibly live) symbol
    sel = _select_batch(rows, 0, 8, 1, saw_all=True, learned={"cd"})
    assert sel == [("c", "d", 10)]
    # backstop: history omits "cd" but a VISIBLE row is keyed on it —
    # still refuse (the row proves the symbol live)
    sel_b = _select_batch(rows, 0, 8, 1, saw_all=True)
    assert sel_b == [("c", "d", 10)]
    # with the coincident evidence absent, the same state certifies
    # both: the only precursor bound is min(4, 10) = 4 < 8
    rows2 = [r for r in rows if r["r"] != "cd"]
    sel2 = _select_batch(rows2, 0, 8, 1, saw_all=True)
    assert sel2 == [("c", "d", 10), ("x", "y", 8)]
    # ... but NOT when the history marks "cd" as ever-learned: a
    # coincident pair could hide below a strict top-K's floor
    sel3 = _select_batch(rows2, 0, 8, 1, saw_all=False, learned={"cd"})
    assert sel3 == [("c", "d", 10)]


def test_select_batch_unsorted_rows_raise_value_error():
    """Round-12 advisory fix: the rows-sorted invariant is load-bearing
    for certificate soundness (rows[0] must be the global argmax), so it
    is enforced with an explicit ``raise ValueError`` — NOT ``assert``,
    which ``python -O`` compiles out, silently restoring the unguarded
    behavior.  Pin both the raise and its assert-independence."""
    import pytest

    from training_catalog.operators.bpe import _select_batch

    unsorted = [{"l": "x", "r": "y", "cnt": 8},
                {"l": "c", "r": "d", "cnt": 10}]   # cnt ascending: bad
    with pytest.raises(ValueError, match="sorted"):
        _select_batch(unsorted, 0, 8, 1, saw_all=True)
    # ties broken by (l, r) asc — equal counts in the wrong lex order
    # are just as unsound and must also raise
    lex_bad = [{"l": "q", "r": "r", "cnt": 5},
               {"l": "a", "r": "b", "cnt": 5}]
    with pytest.raises(ValueError, match="sorted"):
        _select_batch(lex_bad, 0, 8, 1, saw_all=True)
    # the guard must survive optimized runs: parse the function body and
    # require it contains NO Assert node (python -O strips those), so
    # the sortedness check above necessarily rode a real raise
    import ast
    import inspect
    import textwrap
    import training_catalog.operators.bpe as bpe_mod
    tree = ast.parse(textwrap.dedent(
        inspect.getsource(bpe_mod._select_batch)))
    assert not any(isinstance(n, ast.Assert) for n in ast.walk(tree)), \
        "_select_batch must not rely on assert for the sortedness guard"


def test_select_batch_visibility_floor():
    """Strict top-K: unseen pairs (≤ floor) cannot gain count once the
    coincident guard passes, so candidates strictly above the floor
    certify; candidates at the floor do not."""
    from training_catalog.operators.bpe import _select_batch

    rows = [{"l": "c", "r": "d", "cnt": 10},
            {"l": "x", "r": "y", "cnt": 8},
            {"l": "u", "r": "v", "cnt": 5}]
    # floor 5: the cnt-5 candidate is uncertifiable, the cnt-8 one is
    assert _select_batch(rows, 0, 8, 1, saw_all=False) == \
        [("c", "d", 10), ("x", "y", 8)]
    # seen in full → all three certify (no hidden pairs possible)
    assert _select_batch(rows, 0, 8, 1, saw_all=True) == \
        [("c", "d", 10), ("x", "y", 8), ("u", "v", 5)]


# --- single-task deep learner ---------------------------------------------------

def test_local_learner_matches_reference_at_depth(spark):
    """learn_bpe_local (indexed-heap Sennrich loop in ONE applyInPandas
    task — zero driver argmax rounds) pinned at 64 merges against the
    pure-Python reference on the smoke corpus."""
    texts = _smoke_texts()
    expected, _ = ref_bpe(_py_vocab(texts), 64)
    got = [(r["merge_rank"], r["left"], r["right"], r["merged"],
            r["pair_count"])
           for r in learn_bpe_local(
               word_vocab(_docs_df(spark, texts)), 64).collect()]
    assert got == expected


@pytest.mark.parametrize("seed", [11, 23])
def test_local_learner_fuzz(spark, seed):
    rnd = random.Random(seed)
    alpha = "abcдg"
    texts = [" ".join("".join(rnd.choice(alpha)
                              for _ in range(rnd.randint(1, 6)))
                      for _ in range(rnd.randint(0, 15)))
             for _ in range(12)]
    expected, _ = ref_bpe(_py_vocab(texts), 12, min_count=1)
    got = [(r["merge_rank"], r["left"], r["right"], r["merged"],
            r["pair_count"])
           for r in learn_bpe_local(word_vocab(_docs_df(spark, texts)),
                                    12, min_count=1).collect()]
    assert got == expected


def test_bpe_learn_deep_catalog_entry(spark):
    """The catalog query returns the 64-deep merge table, identical to
    the reference, as a single-task DataFrame."""
    from training_catalog.plans.tokenizer import _BPE_DEEP_MERGES

    expected, _ = ref_bpe(_py_vocab(_smoke_texts()), _BPE_DEEP_MERGES)
    rows = QUERIES["bpe_learn_deep"](spark, SF_SMOKE).collect()
    got = [(r["merge_rank"], r["left"], r["right"], r["merged"],
            r["pair_count"])
           for r in sorted(rows, key=lambda r: r["merge_rank"])]
    assert got == expected


# --- deep-table encode: pandas-UDF path -----------------------------------------

def test_encode_dispatches_to_udf_and_matches_fold(spark):
    """Above _ENCODE_FOLD_MAX the dispatcher must switch to the
    Arrow-batched whole-table UDF; both paths must equal the reference
    training-state segmentation on a 24-merge learned table."""
    texts = _smoke_texts()
    merges_py, words_py = ref_bpe(_py_vocab(texts), 24)
    merges = [{"merge_rank": r, "left": a, "right": b, "merged": m,
               "pair_count": c} for r, a, b, m, c in merges_py]
    start = word_vocab(_docs_df(spark, texts)).select(
        "w", "freq", chars(F.col("w")).alias("syms"))
    via_dispatch = {r["w"]: r["syms"]
                    for r in encode_words(start, merges).collect()}
    via_fold = {r["w"]: r["syms"]
                for r in encode_words(start, merges,
                                      fold_max=1000).collect()}
    assert via_dispatch == words_py
    assert via_fold == words_py
    # the dispatcher really took the UDF path: plan has ArrowEvalPython,
    # not a 24-deep aggregate() chain
    plan = encode_words(start, merges)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan


def test_encode_udf_at_256_merges(spark):
    """Deep-table probe: a 256-merge learned table applies through ONE
    pandas UDF (constant plan size) and matches in-rank-order reference
    sweeps — the per-merge Catalyst fold path would emit a 256-node
    expression chain that is infeasible to analyze/compile, which is
    exactly why encode_words dispatches.  (The smoke corpus has only 31
    distinct words and fully collapses at ~89 merges, so the probe uses
    a synthetic vocabulary rich enough for true 256-merge depth.)"""
    rnd = random.Random(61)
    texts = [" ".join("".join(rnd.choice("abcdefghijkl")
                              for _ in range(rnd.randint(4, 12)))
                      for _ in range(30))
             for _ in range(60)]
    vocab = word_vocab(_docs_df(spark, texts))
    merges = [r.asDict()
              for r in learn_bpe_local(vocab, 256, min_count=1).collect()]
    assert len(merges) == 256
    start = vocab.select("w", "freq", chars(F.col("w")).alias("syms"))
    got = {r["w"]: r["syms"]
           for r in encode_words_udf(start, merges).collect()}
    for w in _py_vocab(texts):
        syms = list(w)
        for m in merges:
            syms = _apply(syms, m["left"], m["right"])
        assert got[w] == syms, w


# --- holdout split ------------------------------------------------------------

def test_holdout_split_partitions_and_never_leaks(spark):
    rows = QUERIES["split_holdout_stats"](spark, SF_SMOKE).collect()
    n_total = duckdb.sql(
        f"SELECT count(*) FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')").fetchone()[0]
    assert {r["split"] for r in rows} <= {"train", "valid", "test"}
    assert sum(r["n_docs"] for r in rows) == n_total
    assert all(r["n_leaked_groups"] == 0 for r in rows)
    again = QUERIES["split_holdout_stats"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


# --- PMI collocations ---------------------------------------------------------

def test_pmi_lift_self_consistent(spark):
    rows = QUERIES["pmi_collocations"](spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 50
    n_tokens = duckdb.sql(
        f"""SELECT count(*) FROM (
              SELECT unnest(list_filter(string_split(text, ' '),
                                        x -> x <> ''))
              FROM read_parquet('{SF_SMOKE}/documents.parquet'))"""
    ).fetchone()[0]
    for r in rows:
        assert r["c_xy"] >= 5
        assert r["lift_ppm"] == (r["c_xy"] * n_tokens * 1_000_000) // (
            r["c_x"] * r["c_y"])
    lifts = [r["lift_ppm"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


# --- BPE train-then-apply stats -------------------------------------------

def test_encode_stats_matches_reference(spark):
    from training_catalog.plans.tokenizer import _BPE_ENC_MERGES

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT source, text FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')").fetchall()
    _, words_state = ref_bpe(_py_vocab(t for _, t in docs),
                             _BPE_ENC_MERGES)
    exp: dict[str, list[int]] = {}
    for src, text in docs:
        e = exp.setdefault(src, [0, 0, 0, 0])
        e[0] += 1
        for w in text.split(" "):
            if w:
                e[1] += 1
                e[2] += len(w)
                e[3] += len(words_state[w])
    expected = sorted(
        (src, n, sw, sc, st, (st * 1_000_000) // sc if sc else 0)
        for src, (n, sw, sc, st) in exp.items())
    got = sorted(map(tuple, QUERIES["bpe_encode_stats"](
        spark, SF_SMOKE).collect()))
    assert got == expected


# --- composed end-to-end pipeline -------------------------------------------

def test_training_pipeline_matches_reference(spark):
    """training_corpus_stats pinned against the same composition done in
    pure Python: token-count gate → md5 keep-first dedup → md5-bucket
    split → BPE learned on train only → per-split token sums."""
    import hashlib
    import re

    from training_catalog.plans.tokenizer import (
        _BPE_ENC_MERGES, _PIPE_MIN_TOKENS, _SPLIT_TRAIN_PCT,
        _SPLIT_VALID_PCT)

    tok_re = re.compile(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")
    kept = [t for t in _smoke_texts()
            if len(tok_re.findall(t)) >= _PIPE_MIN_TOKENS]
    uniq: dict[str, str] = {}
    for t in kept:
        uniq.setdefault(hashlib.md5(t.encode("utf-8")).hexdigest(), t)

    def split_of(digest):
        b = int(digest[:4], 16) % 100
        return ("train" if b < _SPLIT_TRAIN_PCT
                else "valid" if b < _SPLIT_VALID_PCT else "test")

    train_texts = [t for d, t in uniq.items() if split_of(d) == "train"]
    merges, _ = ref_bpe(_py_vocab(train_texts), _BPE_ENC_MERGES)
    mseq = [(a, b) for _, a, b, _, _ in merges]

    def n_tok(w):
        syms = list(w)
        for a, b in mseq:
            syms = _apply(syms, a, b)
        return len(syms)

    exp: dict[str, list[int]] = {}
    for d, t in uniq.items():
        e = exp.setdefault(split_of(d), [0, 0, 0, 0])
        e[0] += 1
        for w in t.split(" "):
            if w:
                e[1] += 1
                e[2] += len(w)
                e[3] += n_tok(w)
    expected = sorted(
        (s, n, sw, st, (st * 1_000_000) // sc if sc else 0)
        for s, (n, sw, sc, st) in exp.items())
    got = sorted(map(tuple, QUERIES["training_corpus_stats"](
        spark, SF_SMOKE).collect()))
    assert got == expected


# --- batched property test: the fold IS the reference scan -------------------

def test_merge_fold_property_batch(spark):
    """200 random (symbol-array, pair) cases — multi-char symbols,
    self-pairs, unicode, degenerate arrays — evaluated as ONE DataFrame
    pass: the Catalyst fold must equal the reference greedy scan on
    every row."""
    rnd = random.Random(99)
    syms_pool = ["a", "b", "ab", "ba", "aa", "д", "дa", "x"]
    cases = []
    for _ in range(200):
        syms = [rnd.choice(syms_pool) for _ in range(rnd.randint(0, 9))]
        left, right = rnd.choice(syms_pool), rnd.choice(syms_pool)
        cases.append((syms, left, right))
    df = spark.createDataFrame(
        [(i, s, l, r) for i, (s, l, r) in enumerate(cases)],
        "i int, syms array<string>, l string, r string")
    # one expression per distinct pair keeps this a single collect
    out = {}
    for (left, right) in {(l, r) for _, l, r in cases}:
        sub = df.filter((F.col("l") == left) & (F.col("r") == right))
        for row in sub.select(
                "i", merge_pair(F.col("syms"), left, right)
                .alias("m")).collect():
            out[row["i"]] = row["m"]
    for i, (syms, left, right) in enumerate(cases):
        assert out[i] == _apply(syms, left, right), (syms, left, right)


def test_record_task_peak_env_gate(tmp_path, monkeypatch):
    """operators/probe.py: inert without the env var; with it, appends
    a '<tag> <VmHWM-kB>' line readable by the --vocab probe."""
    from training_catalog.operators.probe import (
        record_task_peak)

    monkeypatch.delenv("SPARK_GRAFT_TRAINER_PROBE", raising=False)
    record_task_peak("noop")            # must not raise or write
    p = tmp_path / "probe.txt"
    monkeypatch.setenv("SPARK_GRAFT_TRAINER_PROBE", str(p))
    record_task_peak("tag_a")
    record_task_peak("tag_b")
    lines = [ln.split() for ln in p.read_text().splitlines()]
    assert [ln[0] for ln in lines] == ["tag_a", "tag_b"]
    assert all(int(ln[1]) > 0 for ln in lines)


# --- stupid backoff (round 12) ------------------------------------------------

def test_sbo_score_hand_computed_backoff_vectors(spark, tmp_path):
    """Stupid Backoff pinned on a crafted corpus where every backoff
    level fires and the expected scores are hand-computed — independent
    of the shared-oracle parity check (which cannot catch a deviation
    mirrored in both engines).  Trailing spaces steer each doc's md5
    split bucket (words() drops empties, so tokens are unchanged while
    the hash moves): train doc bucket 31; held-out docs 97/92/82/99.

    Train "a b c a b d": c(abc)=1, c(ab)=2, c(bd)=1, c(b)=2, c(d)=1,
    N=6.  Held-out:
      "a b c"  -> trigram branch   ln(1/2)        = -0.6931
      "c b d"  -> bigram backoff   ln(0.4 * 1/2)  = -1.6094
      "c c d"  -> unigram backoff  ln(0.16 * 1/6) = -3.6243
      "d d z"  -> w3 OOV, zero scored positions -> doc filtered out
    """
    from training_catalog.plans import QUERIES

    docs = [(0, "a b c a b d"),      # bucket 31 -> train
            (1, "a b c "),           # bucket 97 -> held out
            (2, "c b d"),            # bucket 92 -> held out
            (3, "d d z  "),          # bucket 82 -> held out, all OOV
            (4, "c c d")]            # bucket 99 -> held out
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, "
        "n_chars long") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r for r in
           QUERIES["sbo_score_docs"](spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2, 4}                  # doc 3 all-OOV
    assert (got[1]["n_trigrams"], got[1]["n_oov"]) == (1, 0)
    assert got[1]["avg_logs"] == -0.6931
    assert got[2]["avg_logs"] == -1.6094
    assert (got[4]["n_trigrams"], got[4]["n_oov"]) == (1, 0)
    assert got[4]["avg_logs"] == -3.6243
