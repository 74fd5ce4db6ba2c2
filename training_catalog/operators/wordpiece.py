"""Distributed WordPiece tokenizer training (Schuster & Nakajima 2012;
the BERT tokenizer) — the third major subword algorithm beside BPE
(operators/bpe.py) and the unigram LM (operators/unigram.py).

WordPiece is BPE with a different argmax: each round merges the
adjacent pair maximizing the LIKELIHOOD score

    score(a, b) = pair_count(a, b) / (sym_count(a) * sym_count(b))

instead of the raw pair count, and encoding is greedy
longest-match-first over the final vocabulary (not merge replay).
Continuation symbols carry the ``##`` prefix: a word's first character
is plain, every later character is ``##c``, and merging ``(a, ##b)``
yields ``a + b`` with the left side's prefix preserved.

Scale shape is identical to the BPE deep path: ONE corpus→vocab
collapse (the only corpus-scale pass), then the inherently sequential
merge loop runs inside a single ``applyInPandas`` task over the
(w, freq) frame — zero driver round trips at any depth.  Scores are
compared as EXACT integer fractions (cross-multiplication — no float
drift anywhere), so training is bit-reproducible and equality-pinned
against a pure-Python reference (tests/test_wordpiece_ops.py).

Reference anchor: the reference pipeline feeds downstream consumers
that tokenize its text outputs (openskidata-processor README pipeline
diagram); SURVEY.md §2 training-data extension.
"""

from __future__ import annotations

from fractions import Fraction

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_symbols(word: str) -> list[str]:
    """BERT-style initial symbols: first char plain, rest ##-prefixed."""
    return [word[0]] + ["##" + c for c in word[1:]] if word else []


def merge_symbol(a: str, b: str) -> str:
    """Concatenate symbols, stripping the right side's ## continuation."""
    return a + (b[2:] if b.startswith("##") else b)


def learn_wordpiece_local(vocab: DataFrame, n_merges: int,
                          min_count: int = 2) -> DataFrame:
    """Learn ``n_merges`` WordPiece merges inside ONE applyInPandas task
    (the deep-path twin of ``learn_bpe_local``).

    Returns (merge_rank, left, right, merged, pair_count, score_num,
    score_den) — the score reported as the exact integer fraction
    pair_count / (sym_count(left)*sym_count(right)) at selection time.
    Argmax: highest score, ties to the lexicographically smallest
    (left, right).  Stops early when the best pair's count drops below
    ``min_count``.

    Memory contract: the vocab frame must fit one executor task.
    Measured (tests/scale_probe.py --vocab, readings in its docstring):
    task peak grows LINEARLY at ≈1.5 GiB per million distinct words —
    ~10-20M words on a typical 32-64 GiB-task executor.  That covers
    Heaps'-law vocabularies for a 100 TB monolingual corpus; for
    extreme multilingual vocabularies beyond it use
    ``learn_wordpiece_rounds`` (DataFrame state, one exact-argmax merge
    per driver round — no batched multi-merge variant exists because
    the likelihood score couples every pair to the global unigram
    counts; see its docstring for why the BPE certificate does not
    transfer)."""
    schema = ("merge_rank INT, left STRING, right STRING, "
              "merged STRING, pair_count LONG, "
              "score_num LONG, score_den LONG")

    def train(pdf):
        import heapq

        words = [word_symbols(w) for w in pdf["w"]]
        freqs = [int(f) for f in pdf["freq"]]

        # Incremental state — the WordPiece analogue of the BPE deep
        # learner's indexed heap.  Key observation making the heap work
        # despite score = pc/(sc_l*sc_r) coupling pairs to unigram
        # counts: merging (a, b) -> m changes the symbol counts of a, b
        # and m ONLY (no other symbol's multiplicity moves), so exactly
        # the pairs touching {a, b, m} plus the pairs whose own count
        # changed need fresh heap entries — never the whole table.
        pc: dict[tuple[str, str], int] = {}
        sc: dict[str, int] = {}
        pair_where: dict[tuple[str, str], set[int]] = {}
        sym_pairs: dict[str, set[tuple[str, str]]] = {}
        for i, (syms, f) in enumerate(zip(words, freqs)):
            for s in syms:
                sc[s] = sc.get(s, 0) + f
            for j in range(len(syms) - 1):
                p = (syms[j], syms[j + 1])
                pc[p] = pc.get(p, 0) + f
                pair_where.setdefault(p, set()).add(i)
                sym_pairs.setdefault(p[0], set()).add(p)
                sym_pairs.setdefault(p[1], set()).add(p)

        def score(p):
            return Fraction(pc[p], sc[p[0]] * sc[p[1]])

        # lazy-deletion heap keyed (-score, l, r): max score first, lex
        # tie-break; an entry is valid iff it matches the LIVE score
        heap = [(-score(p), p[0], p[1]) for p, c in pc.items()
                if c >= min_count]
        heapq.heapify(heap)

        def push(p):
            if pc.get(p, 0) >= min_count:
                heapq.heappush(heap, (-score(p), p[0], p[1]))

        def apply_one(syms, a, b, m):
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(m)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        out_rows = []
        for rank in range(n_merges):
            best = None
            while heap:
                negs, a, b = heap[0]
                p = (a, b)
                if pc.get(p, 0) >= min_count and -negs == score(p):
                    best = p
                    break
                heapq.heappop(heap)            # stale or dead entry
            if best is None:
                break
            a, b = best
            m = merge_symbol(a, b)
            s = score(best)
            out_rows.append((rank, a, b, m, int(pc[best]),
                             int(s.numerator), int(s.denominator)))

            touched_pairs: set[tuple[str, str]] = set()
            for i in list(pair_where.get(best, ())):
                old = words[i]
                new = apply_one(old, a, b, m)
                f = freqs[i]
                for s_ in old:
                    sc[s_] -= f
                for s_ in new:
                    sc[s_] = sc.get(s_, 0) + f
                for j in range(len(old) - 1):
                    p = (old[j], old[j + 1])
                    pc[p] = pc.get(p, 0) - f
                    touched_pairs.add(p)
                new_pairs = set()
                for j in range(len(new) - 1):
                    p = (new[j], new[j + 1])
                    pc[p] = pc.get(p, 0) + f
                    touched_pairs.add(p)
                    new_pairs.add(p)
                    pair_where.setdefault(p, set()).add(i)
                    sym_pairs.setdefault(p[0], set()).add(p)
                    sym_pairs.setdefault(p[1], set()).add(p)
                for j in range(len(old) - 1):
                    p = (old[j], old[j + 1])
                    if p not in new_pairs:
                        pair_where.get(p, set()).discard(i)
                words[i] = new
            # drop dead pairs, then refresh scores: pairs with changed
            # counts, plus every live pair touching a symbol whose
            # unigram count moved ({a, b, m})
            for p in touched_pairs:
                if pc.get(p, 0) <= 0:
                    pc.pop(p, None)
                    pair_where.pop(p, None)
                    sym_pairs.get(p[0], set()).discard(p)
                    sym_pairs.get(p[1], set()).discard(p)
            refresh = set(touched_pairs)
            for s_ in (a, b, m):
                refresh |= sym_pairs.get(s_, set())
            for p in refresh:
                if p in pc:
                    push(p)
        from .probe import record_task_peak
        record_task_peak("learn_wordpiece_local")  # no-op outside probe
        return pd.DataFrame(
            out_rows,
            columns=["merge_rank", "left", "right", "merged",
                     "pair_count", "score_num", "score_den"])

    return (vocab.select("w", "freq")
            .withColumn("__g", F.lit(1))
            .groupBy("__g")
            .applyInPandas(lambda _, pdf: train(pdf), schema=schema))


def wp_symbols(col: Column) -> Column:
    """Spark-side BERT initial symbols (the Catalyst twin of
    ``word_symbols``): first char plain, rest ##-prefixed."""
    from .bpe import chars

    return F.transform(
        chars(col),
        lambda c, i: F.when(i == 0, c)
        .otherwise(F.concat(F.lit("##"), c)))


def merge_pair_to(syms: Column, left: str, right: str,
                  merged: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (left, right) into
    an explicit ``merged`` token — the WordPiece generalization of
    ``bpe.merge_pair`` (the merged string strips the right side's ##
    continuation, so it is not simply left+right).

    Fold invariant: ``merged`` can never equal ``left`` (the right
    side always contributes at least one content character), so a fresh
    merge result is never re-consumed as the left side within the same
    pass — exactly the reference scan."""
    return F.aggregate(
        syms, F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged)))
        ).otherwise(F.concat(acc, F.array(x))))


def learn_wordpiece_rounds(vocab: DataFrame, n_merges: int,
                           min_count: int = 2, topk: int = 64,
                           checkpoint_every: int = 4,
                           stats: dict | None = None) -> list[dict]:
    """Distributed WordPiece learning, ONE exact-argmax merge per driver
    round — the graceful path for vocabularies BEYOND the single-task
    memory ceiling of ``learn_wordpiece_local`` (measured in
    tests/scale_probe.py --vocab; see that docstring).  State lives in
    DataFrames (pair counts + symbol counts, both maintained by ±delta
    folds over affected words only), so memory scales with the cluster,
    at the cost of O(n_merges) driver-sequenced rounds — the same
    tradeoff as BPE's ``learn_bpe``.

    No multi-merge batching is offered: the likelihood score
    pc/(sc_l·sc_r) couples EVERY pair to the global unigram counts, so
    (a) applying a merge shrinks sc of its operands and inflates the
    score of every pair touching them, unboundedly in relative terms,
    and (b) a created pair (x, m) enters with score pc_new/(sc_x·sc_m)
    where sc_m equals the fused count — typically ≈ 1/sc_x, far above
    the standing scores, so the sequential learner's next pick is very
    often a just-created pair that cannot be forecast without applying.
    BPE's ``_select_batch`` disjointness certificate therefore does not
    transfer; batching would degenerate to one merge per round anyway.

    Argmax is EXACT despite the fractional score: each round collects
    the top-``topk`` rows by the float score (with their exact integer
    cnt / sc_l / sc_r), re-sorts them by the exact ``Fraction`` with
    the (left, right) lex tie-break, and accepts the result only when
    the collected floor is strictly below the best float by more than
    float noise (any excluded row's exact score is then provably
    smaller); otherwise the collect widens 4× and retries.  Output is
    bit-identical to ``learn_wordpiece_local`` (equality-pinned in
    tests/test_wordpiece_ops.py).

    TIME ENVELOPE (measured, round-11/12 driver + bench artifacts at
    sf0.1 on local[32]): ≈ 2.6 s of fixed driver-round latency per
    merge (10.5 s for 4 merges incl. widen retries) — stage scheduling
    + the two broadcast joins + the bounded top-K collect, near-flat in
    corpus size at bench scale.  A production 30k-merge vocabulary
    through this path is therefore ~20+ hours of driver-sequenced
    rounds.  That is the DOCUMENTED COST of the escape hatch, not a
    recommendation: below the measured single-task memory ceiling
    (≈ 1.5 GiB per million distinct words → ~10-25M-word vocabularies,
    covering Heaps'-law vocabularies for ~100 TB monolingual corpora;
    tests/scale_probe.py), ``learn_wordpiece_local`` is the production
    path — one distributed pre-aggregation, then the whole merge loop
    in a single task (0.73 s at the same depth, seconds-per-30k-merges
    locally).  Choose this rounds path ONLY beyond that ceiling, and
    expect wall-clock dominated by n_merges × per-round latency."""
    from openskidata_processor_spark.operators.barrier import truncate_lineage
    from .bpe import adjacent_pairs, contains_pair, pair_counts

    # All lineage cuts in this loop are LAZY (eager=False): each round's
    # top-K collect is then the ONLY driver-sequenced action — it
    # materializes the pending pc/sc checkpoints as part of its own job
    # instead of paying two extra synchronous materialization jobs per
    # round (and the final round's never-read pc/sc updates never run at
    # all).  Measured r12: 4-merge demo ~9.5 s → ~5 s at sf0.1.
    cur = truncate_lineage(
        vocab.select("w", "freq", wp_symbols(F.col("w")).alias("syms")),
        eager=False)
    pc = truncate_lineage(pair_counts(cur), eager=False)
    sc = truncate_lineage(
        cur.select(F.explode("syms").alias("s"), "freq")
        .groupBy("s").agg(F.sum("freq").alias("scnt")),
        eager=False)

    merges: list[dict] = []
    rounds = 0
    for rank in range(n_merges):
        # symbol table ≈ alphabet×2 + merges learned — broadcast-tiny
        scored = (pc.filter(F.col("cnt") >= min_count)
                  .join(F.broadcast(sc.withColumnRenamed("s", "l")
                                    .withColumnRenamed("scnt", "scl")),
                        "l")
                  .join(F.broadcast(sc.withColumnRenamed("s", "r")
                                    .withColumnRenamed("scnt", "scr")),
                        "r")
                  .withColumn("fscore",
                              F.col("cnt")
                              / (F.col("scl").cast("double")
                                 * F.col("scr").cast("double"))))
        k, best = topk, None
        while True:
            rows = (scored.orderBy(F.col("fscore").desc(),
                                   F.col("l").asc(), F.col("r").asc())
                    .limit(k)
                    .select("l", "r", "cnt", "scl", "scr", "fscore")
                    .collect())              # bounded: ≤ k rows
            rounds += 1
            if not rows:
                break
            best = min(rows, key=lambda t: (
                -Fraction(int(t["cnt"]),
                          int(t["scl"]) * int(t["scr"])),
                t["l"], t["r"]))
            if len(rows) < k:
                break                        # saw everything — exact
            floor = rows[-1]["fscore"]
            top_f = max(r["fscore"] for r in rows)
            # an excluded row's float ≤ floor; the true exact argmax's
            # float is within 1 ulp of the best collected float, so
            # strictly-below-noise floor proves completeness
            if floor < top_f * (1.0 - 1e-9):
                break
            k *= 4                           # float-tie plateau: widen
        if best is None:
            break
        a, b = best["l"], best["r"]
        m = merge_symbol(a, b)
        num = int(best["cnt"])
        den = int(best["scl"]) * int(best["scr"])
        g = Fraction(num, den)
        merges.append({"merge_rank": rank, "left": a, "right": b,
                       "merged": m, "pair_count": num,
                       "score_num": int(g.numerator),
                       "score_den": int(g.denominator)})

        hit = contains_pair(F.col("syms"), a, b)
        new_syms = merge_pair_to(F.col("syms"), a, b, m)
        # Affected words + post-merge symbols materialized once (lazy
        # cut); all FOUR ±delta legs (pair and symbol counts) read plain
        # columns — the merge fold is planned/evaluated once per round
        # instead of once per leg, and cur is scanned once per round
        # instead of four times.
        upd = truncate_lineage(
            cur.filter(hit).select("freq", "syms",
                                   new_syms.alias("nsyms")),
            eager=False)
        old_p = (upd
                 .select("freq",
                         F.explode(adjacent_pairs(F.col("syms")))
                         .alias("p"))
                 .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"),
                         (-F.col("freq")).alias("cnt")))
        new_p = (upd
                 .select("freq",
                         F.explode(adjacent_pairs(F.col("nsyms")))
                         .alias("p"))
                 .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"),
                         F.col("freq").alias("cnt")))
        pc = truncate_lineage(
            pc.unionByName(old_p).unionByName(new_p)
            .groupBy("l", "r").agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0),
            eager=False)
        old_s = (upd.select(F.explode("syms").alias("s"),
                            (-F.col("freq")).alias("scnt")))
        new_s = (upd.select(F.explode("nsyms").alias("s"),
                            F.col("freq").alias("scnt")))
        sc = truncate_lineage(
            sc.unionByName(old_s).unionByName(new_s)
            .groupBy("s").agg(F.sum("scnt").alias("scnt"))
            .filter(F.col("scnt") > 0),
            eager=False)
        cur = cur.withColumn(
            "syms", F.when(hit, new_syms).otherwise(F.col("syms")))
        if (rank + 1) % checkpoint_every == 0:
            cur = truncate_lineage(cur, eager=False)
    if stats is not None:
        stats["rounds"] = rounds
    return merges


def wordpiece_vocab(merges: list[dict],
                    alphabet: set[str]) -> set[str]:
    """Final token vocabulary: the BERT-style alphabet (plain + ##
    continuation forms) plus every merged token."""
    vocab = set(alphabet) | {"##" + a for a in alphabet}
    vocab |= {m["merged"] for m in merges}
    return vocab


def encode_wordpiece_udf(word_frame: DataFrame, vocab,
                         max_token_len: int = 32,
                         word_col: str = "w") -> DataFrame:
    """Add a ``pieces`` array column: BERT greedy longest-match-first
    encoding of ``word_col`` under the token vocabulary.  A word with an
    unmatchable position encodes to ``["[UNK]"]`` (the whole word, per
    the BERT tokenizer contract).

    ``vocab`` is either a plain set/iterable of tokens (captured in the
    UDF closure — serialized once per TASK, fine for toy vocabularies)
    or a ``Broadcast`` of one: a production vocab (100k+ tokens) must
    ship once per EXECUTOR via the broadcast machinery, the same
    Broadcast-or-plain contract as ``_ivf_cells_udf``
    (operators/similarity.py).  The set is materialized once per
    deserialized UDF instance, not per Arrow batch."""
    cache: dict = {}

    @F.pandas_udf("array<string>")
    def _enc(col: pd.Series) -> pd.Series:
        vs = cache.get("vs")
        if vs is None:
            raw = vocab.value if hasattr(vocab, "value") else vocab
            vs = raw if isinstance(raw, (set, frozenset)) else set(raw)
            cache["vs"] = vs

        def one(w):
            out, i, n = [], 0, len(w)
            while i < n:
                end = min(n, i + max_token_len)
                piece = None
                for j in range(end, i, -1):    # longest match first
                    cand = w[i:j] if i == 0 else "##" + w[i:j]
                    if cand in vs:
                        piece = cand
                        break
                if piece is None:
                    return ["[UNK]"]
                out.append(piece)
                i += len(piece) - 2 if piece.startswith("##") \
                    else len(piece)
            return out
        return col.map(one)

    return word_frame.withColumn("pieces", _enc(F.col(word_col)))
